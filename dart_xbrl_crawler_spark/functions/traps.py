"""Crawl-trap detection over canonical URLs — frontier hygiene.

A crawler that follows every discovered link walks into traps the
reference never meets (its frontier is a finite DART API list,
/root/reference/dart_api_manager.py:235-266): calendar pages that mint
a new URL per day forever, session-id echoes that re-append the same
path segments (``/a/b/a/b/a/b``), and query-string explosions
(faceted-search grids).  Heritrix and Nutch ship the same class of
guards; here each feature is ONE Catalyst expression over
``url_canon`` — map-only, whole-stage-codegen, zero shuffle at any
scale — so the trap gate adds no cost to discovery at 10^10 URLs.

Semantics are deliberately regex-backreference-free (DuckDB's RE2 has
no backrefs) so the DuckDB oracle runs the IDENTICAL array logic:
segments = split(path, '/'); a trap is

  * path depth  > ``MAX_DEPTH``           (endless calendar descent)
  * any segment appearing > ``MAX_SEG_REPEAT`` times in the path
    (self-similar loop — catches /a/b/a/b/a and /x/x/x alike)
  * query params > ``MAX_PARAMS``          (facet grid)
  * total length > ``MAX_LEN``             (session-id accretion)

The flag is surfaced as DATA (``trap_reason`` nullable string), not a
silent drop: ``run_crawl(drop_traps=True)`` filters flagged links at
discovery time, and the reason column feeds lineage counters the same
way robots blocks do.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# thresholds follow Heritrix's TooManyPathSegmentsDecideRule (20) and
# TooManyHopsDecideRule spirit, tightened for api-shaped frontiers
MAX_DEPTH = 12
MAX_SEG_REPEAT = 3
MAX_PARAMS = 10
MAX_LEN = 512


def trap_features(url_canon: Column) -> dict[str, Column]:
    """Per-URL trap feature columns; ``trap_reason`` is null for clean
    urls, else the FIRST tripped rule in fixed precedence order
    (depth > repeat > params > length) so the reason is deterministic.
    """
    rest = F.substring_index(url_canon, "://", -1)
    qpos = F.instr(rest, "?")
    path_and_host = F.when(qpos > 0, F.substring(rest, F.lit(1), qpos - 1)).otherwise(
        rest
    )
    # segments: drop the host (element 0 of split on '/') and empties
    segs = F.filter(
        F.slice(
            F.split(path_and_host, "/"),
            2,
            2_147_483_000,
        ),
        lambda s: s != "",
    )
    depth = F.size(segs)
    # max occurrence count of any segment: for each segment, count its
    # equals — aggregate(max) over the same array; O(d²) on a ≤dozens
    # array, still one codegen expression
    seg_rep = F.when(depth == 0, F.lit(0)).otherwise(
        F.array_max(
            F.transform(
                segs,
                lambda s: F.size(F.filter(segs, lambda t: t == s)),
            )
        )
    )
    q_str = F.when(qpos > 0, F.substring_index(rest, "?", -1)).otherwise(F.lit(""))
    n_params = F.when(q_str == "", F.lit(0)).otherwise(F.size(F.split(q_str, "&")))
    url_len = F.length(url_canon)
    reason = (
        F.when(depth > MAX_DEPTH, F.lit("depth"))
        .when(seg_rep > MAX_SEG_REPEAT, F.lit("segment_repeat"))
        .when(n_params > MAX_PARAMS, F.lit("params"))
        .when(url_len > MAX_LEN, F.lit("length"))
        .otherwise(F.lit(None).cast("string"))
    )
    return {
        "path_depth": depth.cast("long"),
        "max_segment_repeat": seg_rep.cast("long"),
        "n_params": n_params.cast("long"),
        "url_len": url_len.cast("long"),
        "trap_reason": reason,
    }


def is_trap(url_canon: Column) -> Column:
    """Boolean gate: any trap rule tripped."""
    return trap_features(url_canon)["trap_reason"].isNotNull()


# the extensions a text-focused crawler (CCBot-style) skips at
# DISCOVERY time: styling/code/fonts and bulk media whose bytes the
# text pipeline would fetch only to discard.  Deliberately NOT
# including .pdf/.doc (convertible documents) — dropping those is a
# pipeline policy, not frontier hygiene.
ASSET_EXTENSIONS = (
    "css", "js", "mjs", "map",
    "png", "jpg", "jpeg", "gif", "ico", "svg", "webp", "bmp",
    "woff", "woff2", "ttf", "otf", "eot",
    "mp3", "mp4", "avi", "mov", "webm", "wav", "ogg", "mkv",
    "zip", "gz", "tar", "bz2", "7z", "rar", "exe", "dmg", "iso",
)


def is_static_asset(url_canon: Column) -> Column:
    """True when the url PATH ends in a static-asset extension (query
    string ignored — ``/app.js?v=3`` is still an asset).  One rlike in
    codegen; the extension test is case-insensitive and anchored at
    path end so ``/essay.zipper.html`` never matches."""
    alts = "|".join(ASSET_EXTENSIONS)
    return F.lower(
        F.substring_index(F.substring_index(url_canon, "?", 1), "#", 1)
    ).rlike(rf"\.({alts})$")
