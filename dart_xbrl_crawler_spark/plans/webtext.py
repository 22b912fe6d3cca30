"""Composed webtext curation pipeline: Common-Crawl-shaped pages in,
training corpus out.

One library call chains the individually-verified operators into the
standard pretraining data flow (the C4 / CCNet / Gopher recipe):

    decode (charset sniff, only where text is missing)
      → language ID (stopword vote)
      → quality gate (word count + Gopher repetition signals)
      → exact dedup (md5 canonical, min-url wins)
      → deterministic hash-stratified sampling per language

Every step is a DataFrame transformation — one job when the result is
written, no intermediate actions, no driver collects.  Per-stage row
accounting comes back as a SECOND lazy DataFrame built from the same
lineage (count aggregates union'd), so a caller who wants the funnel
pays one extra pass, and a caller who doesn't pays nothing.

Scale notes: decode is the only python stage (Arrow-batched, gated to
rows that actually need it); lang/quality/sampling are map-only
codegen; the single shuffle is the dedup groupBy on md5(text).
Near-dup clustering and line-level dedup stay separate operators
(plans/catalog_text.py q47/q61) — they carry their own shuffles and a
curation run chooses whether to pay them.

Reference analog: the reference has no curation concept (it extracts
from every fetched filing unconditionally, batch_processor.py); this
pipeline is the additive training-data surface over the same pages
schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.charset import decode_html

__all__ = ["lang_guess_col", "repetition_cols", "gopher_quality_cols", "curate"]

# a curated doc has at most this many words
_MAX_WORDS = 1_000_000
# a language's trigram profile must score at least this, else 'unk'
_MIN_NGRAM_SCORE = 2


def lang_guess_col():
    """Stopword-vote language guess over ``text`` (the q25 heuristic,
    reusable)."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    return (
        F.when(padded.like("% the %"), F.lit("en"))
        .when(padded.like("% der %") | padded.like("% und %"), F.lit("de"))
        .when(padded.like("% le %") | padded.like("% la %"), F.lit("fr"))
        .otherwise(F.lit("unk"))
    )


def repetition_cols():
    """(n_words, dup_line_frac, top_bigram_frac) of ``text`` — the q55
    map-only Gopher signals as reusable columns."""
    w = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    n = F.size(w)
    lines = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), F.ceil(n / F.lit(8.0)).cast("int")),
            lambda i: F.array_join(F.slice(w, (i - 1) * 8 + 1, 8), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = F.when(
        n >= 2,
        F.zip_with(
            F.slice(w, 1, n - 1),
            F.slice(w, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    nl = F.size(lines).cast("double")
    nb = F.size(bg).cast("double")
    dup_line = F.when(nl == 0, F.lit(0.0)).otherwise(
        (nl - F.size(F.array_distinct(lines))) / nl
    )
    top_bg = F.when(nb == 0, F.lit(0.0)).otherwise(
        F.array_max(
            F.transform(
                F.array_distinct(bg),
                lambda b: F.size(F.filter(bg, lambda x: x == b)),
            )
        ).cast("double")
        / nb
    )
    return n, dup_line, top_bg


def curate(
    pages: DataFrame,
    min_words: int = 5,
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
    sample_thresholds: dict[str, str] | None = None,
    redact: bool = False,
    host_short_frac: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return (curated corpus, per-stage funnel stats), both lazy.

    ``pages`` carries the input contract (url, warc_ts, html, text,
    lang); ``sample_thresholds`` maps lang → md5 hex prefix threshold
    (q58 semantics: keep iff md5(url) < threshold; default keeps
    everything).  Rows decoded from html run the WET tag-strip (rows
    arriving with text are trusted as already extracted and never
    restripped).  ``redact`` (a policy
    choice, so opt-in) scrubs emails/IPv4/+phones to tags on the FINAL
    surviving rows — after dedup, so md5-identity still keys on source
    text and only kept rows pay the pass.  ``host_short_frac`` (opt-in,
    the RefinedWeb/CCNet domain-filtering stage) drops every doc from a
    host whose share of sub-200-char docs exceeds the threshold —
    host stats come from operators.hoststats.host_quality_rollup over
    the quality-passed rows themselves (one extra groupBy on a host dim
    ≪ corpus; the join back is broadcastable at any corpus size).
    """
    # 1. decode only the rows that need it — the common crawl case is
    # text already extracted upstream; html-only rows pay the python
    # stage, nobody else does
    has_text = F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ready = pages.filter(has_text).withColumn(
        "charset", F.lit("pre-decoded")
    )
    needs = pages.filter(~has_text).drop("text")
    # union unconditionally: an empty `needs` side costs nothing at run
    # time, and probing it here (isEmpty) would scan the input twice
    from ..functions.wet import strip_markup

    from_html = decode_html(needs).withColumn("text", strip_markup("text"))
    decoded = ready.unionByName(from_html, allowMissingColumns=False)

    # 2-3. language + quality, all map-only
    n_words, dup_line, top_bg = repetition_cols()
    scored = decoded.select(
        "*",
        lang_guess_col().alias("lang_guess"),
        n_words.alias("n_words"),
        F.round(dup_line, 4).alias("dup_line_frac"),
        F.round(top_bg, 4).alias("top_bigram_frac"),
    )
    quality_ok = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= _MAX_WORDS)
        & (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac)
    )
    quality_passed = scored.filter(quality_ok)
    passed = quality_passed

    # 3b. optional domain-level gate: per-host short-doc fraction over
    # the quality-passed rows; fragment-dominated hosts drop wholesale
    if host_short_frac is not None:
        from ..operators.hoststats import host_quality_rollup

        host = F.substring_index(
            F.substring_index(F.col("url"), "://", -1), "/", 1
        )
        with_host = passed.withColumn("_host", host)
        bad_hosts = (
            host_quality_rollup(
                with_host, host_col="_host", lang_col=None,
                demote_short_frac=host_short_frac,
            )
            .filter(F.col("priority_penalty") < 0)
            .select(F.col("host").alias("_host"))
        )
        passed = (
            with_host.join(
                F.broadcast(bad_hosts), "_host", "left_anti"
            ).drop("_host")
        )

    # 4. exact dedup — the one shuffle; min-url is the canonical copy
    w_min = passed.groupBy(F.md5("text").alias("_th")).agg(
        F.min("url").alias("_keep_url")
    )
    deduped = (
        passed.withColumn("_th", F.md5("text"))
        .join(w_min, "_th")
        .filter(F.col("url") == F.col("_keep_url"))
        .drop("_th", "_keep_url")
    )

    # 5. deterministic per-lang downsample (q58 semantics on md5(url))
    if sample_thresholds:
        thr = F.lit(None).cast("string")
        for lang, hexceil in sample_thresholds.items():
            thr = F.when(F.col("lang_guess") == lang, F.lit(hexceil)).otherwise(
                thr
            )
        curated = deduped.filter(thr.isNull() | (F.md5("url") < thr))
    else:
        curated = deduped

    # 6. optional PII scrub, map-only on the survivors
    if redact:
        from ..functions.pii import redact_pii

        curated = curated.withColumn("text", redact_pii("text"))

    def _n(df: DataFrame, stage: str) -> DataFrame:
        return df.groupBy().agg(
            F.lit(stage).alias("stage"), F.count("*").alias("rows")
        )

    stats = (
        _n(pages, "input")
        .unionByName(_n(decoded, "decoded"))
        .unionByName(_n(quality_passed, "quality_pass"))
    )
    if host_short_frac is not None:
        stats = stats.unionByName(_n(passed, "host_pass"))
    stats = stats.unionByName(_n(deduped, "deduped")).unionByName(
        _n(curated, "curated")
    )
    return curated, stats


def gopher_quality_cols():
    """The remaining Gopher (Rae et al. 2021, table A1) word-level
    quality signals as map-only columns — complements repetition_cols:

    * mean_word_len — exact sum(len)/count, one division
    * alpha_word_frac — fraction of words containing ≥1 ascii letter
      (Gopher: ≥80% required)
    * symbol_frac — '#' and '…' (and '...') occurrences per word
      (Gopher: ≤0.1)
    * n_stopwords — how many of the Gopher probe stopwords (the, be,
      to, of, and, that, have, with) appear (Gopher: ≥2)

    All over ``text``, expressible in ANSI SQL (array logic, no regex
    backrefs), so the DuckDB oracle runs the identical rules.
    """
    text = F.col("text")
    w = F.filter(F.split(F.trim(text), r"\s+"), lambda x: x != "")
    n = F.size(w)
    total_len = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_word_len = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(total_len / n.cast("double"), 4)
    )
    alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(alpha / n.cast("double"), 4)
    )
    hashes = F.length(text) - F.length(
        F.regexp_replace(text, r"#", "")
    )
    # '…' plus literal '...' both count as ellipsis marks
    ell = (
        F.length(text)
        - F.length(F.regexp_replace(text, "…", ""))
    ) + F.size(F.split(text, r"\.\.\.", -1)) - 1
    symbol_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        F.round((hashes + ell) / n.cast("double"), 4)
    )
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    n_stop = None
    for s in stops:
        c = F.when(padded.like(f"% {s} %"), 1).otherwise(0)
        n_stop = c if n_stop is None else n_stop + c
    return {
        "n_words": n.cast("long"),
        "mean_word_len": mean_word_len,
        "alpha_word_frac": alpha_frac,
        "symbol_frac": symbol_frac,
        "n_stopwords": n_stop.cast("long"),
    }


# character-trigram profiles (Cavnar & Trenkle 1994 style, presence
# voting instead of rank distance so the score is ONE map-only
# expression): frequent trigrams incl. word boundaries per language
_TRIGRAM_PROFILES = {
    "en": (" th", "the", "he ", "ing", " an", "nd ", " of", "of ",
           " to", "ed ", " in", "er ", "at ", "ent", " co", "ion"),
    "de": ("der", "ein", "sch", "ich", "nde", "die", "che", "und",
           " de", "ung", " ge", "cht", "gen", "ber", " di", "ens"),
    "fr": (" de", "es ", "le ", "de ", "la ", " la", "que", " qu",
           "les", "our", " le", "ais", "ons", "ait", " pa", "eur"),
}


def lang_id_ngram_cols():
    """Character-n-gram language ID (the SURVEY brief's 'n-gram
    heuristic', distinct from the q25 stopword vote): per language,
    count how many of its profile trigrams OCCUR in the lowercased
    ``text``; predict the max with a fixed precedence tie-break
    (en > de > fr), 'unk' below ``_MIN_NGRAM_SCORE``.

    Shape: pure Catalyst — 48 ``instr`` probes folded per row, no
    explode, no shuffle, identical logic in ANSI SQL.  A rank-order
    profile distance (full Cavnar-Trenkle) needs a per-doc top-k =
    one window per doc; presence voting keeps lang-ID map-only at
    100 TB and is right for the coarse en/de/fr/unk split the
    curation pipeline consumes."""
    low = F.lower(F.col("text"))
    scores = {}
    for lang, grams in _TRIGRAM_PROFILES.items():
        s = None
        for g in grams:
            c = F.when(F.instr(low, g) > 0, 1).otherwise(0)
            s = c if s is None else s + c
        scores[lang] = s
    se, sd, sf = scores["en"], scores["de"], scores["fr"]
    best = F.greatest(se, sd, sf)
    lang = (
        F.when(best < _MIN_NGRAM_SCORE, F.lit("unk"))
        .when((se >= sd) & (se >= sf), F.lit("en"))
        .when(sd >= sf, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return {
        "score_en": se.cast("long"),
        "score_de": sd.cast("long"),
        "score_fr": sf.cast("long"),
        "lang_ngram": lang,
    }
