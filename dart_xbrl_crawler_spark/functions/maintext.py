"""Main-content extraction — the block-level step ABOVE the WET
tag-strip (functions/wet.py strips markup but keeps nav/footer/sidebar
text; pretraining extractors — jusText, trafilatura, resiliparse —
classify BLOCKS and keep only body prose).

Simplified-jusText contract (deterministic, documented):

  1. drop <script>/<style>/<template>/comments wholesale;
  2. cut the page into blocks at block-level tag boundaries
     (p/div/section/article/li/td/h1-h6/br/tr/ul/ol/table/header/
     footer/nav/aside);
  3. per block: visible words, link words (inside <a>…</a>);
  4. a block is BODY iff words ≥ 10 and link_word_fraction ≤ 0.35 —
     nav bars and footers are short and link-dense, prose is neither;
  5. main_text = body blocks joined by '\\n', whitespace-collapsed;
     block counts surfaced so a caller can threshold page quality
     (a page with 0 body blocks is boilerplate-only).

The kernel is an Arrow-batched mapInPandas stage (block walking is
genuinely imperative); it follows the string-kernel discipline the
extract kernel uses — one pass per document with list comprehensions,
no pandas .str chains, each output column built once.

Reference analog: none (the reference parses XBRL, not prose; its
html handling is requests.text — /root/reference/dart_api_manager.py).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_DROP_RE = re.compile(
    r"(?is)<(script|style|template)\b.*?</\1\s*>|<!--.*?-->"
)
_BLOCK_SPLIT_RE = re.compile(
    r"(?i)</?(?:p|div|section|article|li|td|tr|ul|ol|table|header|"
    r"footer|nav|aside|h[1-6])\b[^>]*>|<br\s*/?>"
)
_A_RE = re.compile(r"(?is)<a\b[^>]*>(.*?)</a\s*>")
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_WS_RE = re.compile(r"\s+")

# a body block has at least this many words, at most this share of them
# inside links
_MIN_WORDS = 10
_MAX_LINK_FRAC = 0.35

# the WET module's core entities, kept in sync deliberately small
_ENTITIES = (
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"),
)


def _block_text(fragment: str) -> tuple[str, int, int]:
    """(visible text, n_words, n_link_words) for one block fragment."""
    link_words = 0
    for m in _A_RE.finditer(fragment):
        inner = _TAG_RE.sub(" ", m.group(1))
        link_words += len(inner.split())
    text = _TAG_RE.sub(" ", fragment)
    for ent, rep in _ENTITIES:
        if ent in text:
            text = text.replace(ent, rep)
    text = _WS_RE.sub(" ", text).strip()
    return text, len(text.split()), link_words


def main_content(html: str) -> tuple[str, int, int]:
    """(main_text, n_blocks, n_body_blocks) for one document."""
    cleaned = _DROP_RE.sub(" ", html)
    blocks = _BLOCK_SPLIT_RE.split(cleaned)
    body: list[str] = []
    n_blocks = 0
    for b in blocks:
        text, n_words, link_words = _block_text(b)
        if n_words == 0:
            continue
        n_blocks += 1
        if n_words >= _MIN_WORDS and link_words / n_words <= _MAX_LINK_FRAC:
            body.append(text)
    return "\n".join(body), n_blocks, len(body)


MAIN_TEXT_OUT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("main_text", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("n_body_blocks", T.IntegerType(), True),
    ]
)


def extract_main_content(df: DataFrame) -> DataFrame:
    """pages(url, html:binary, …) → (url, main_text, n_blocks,
    n_body_blocks), Arrow-batched.  Binary payloads decode with
    errors=replace (the decode_permissive contract) and simply yield
    no blocks.  Columns are built once per batch; the per-doc walk is
    single-pass."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            texts, nb, ng = [], [], []
            for payload in pdf["html"]:
                html = (
                    bytes(payload).decode("utf-8", errors="replace")
                    if payload is not None
                    else ""
                )
                t, b, g = main_content(html)
                texts.append(t)
                nb.append(b)
                ng.append(g)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "main_text": texts,
                    "n_blocks": pd.array(nb, dtype="Int32"),
                    "n_body_blocks": pd.array(ng, dtype="Int32"),
                }
            )

    return df.select("url", "html").mapInPandas(run, schema=MAIN_TEXT_OUT)
