"""spark-submit entry point.

Usage (local sandbox; on a cluster drop the master conf and zip the
package for --py-files):

    zip -r engine.zip dart_xbrl_crawler_spark
    spark-submit --py-files engine.zip -m dart_xbrl_crawler_spark.cli <cmd> ...
    # or: spark-submit cli.py <cmd> ... with the package on PYTHONPATH

Subcommands (each one pure DataFrame job over the frontier store):

  bootstrap --seeds <parquet> --store <dir>
      seed list → initial queued frontier (canonicalize, dedup, commit)
  expand --urls <parquet> --store <dir>
      insert newly-discovered urls (bloom + exact dedup)
  fetch --pages <parquet> --robots <parquet> --store <dir> [--round-ms N]
      one politeness-bounded crawl round; prints lineage counts.
      --robots is robots.txt bodies (host, robots_txt), parsed per RFC
      9309 ('*'/'$' wildcards, longest match, crawl-delay), single
      prefixes (host, disallow_prefix, crawl_delay_ms) or a rules table
      (politeness.ROBOTS_RULES_SCHEMA); the engine lifts each into that
      one rules dim
  crawl --pages <parquet> --robots <parquet> --store <dir> [--max-rounds N]
      [--text-out <dir> --seeds <parquet>] [--backoff-factor F]
      [--priority-decay D] [--no-discover]
      full loop: budgeted rounds + link discovery (with priority
      inheritance) until the queue drains; optional per-round text
      extraction (with the seeds' XBRL meta) and adaptive backoff;
      --robots as for fetch
  extract --pages <parquet> --seeds <parquet> --corp-map <parquet> --out <dir>
      extract kernel + corp join → partitioned facts sink
  recrawl --store <dir> (--before <ts> | --hints <parquet>)
      re-queue rows fetched before the cutoff, or exactly the urls a
      sitemap/feed advertises as changed (freshness loop)
  expire --store <dir> --before <ts>
      tombstone old terminal rows; on a cuckoo-backed store their
      hashes also leave the seen filter (urls can resurrect)
  status --store <dir>
      frontier state counts from the latest snapshot
  curate --pages <parquet> --out <dir> [--min-words N] [--redact-pii]
      [--max-dup-line-frac F] [--max-top-bigram-frac F]
      [--sample lang=hexceil ...] [--stats-out <dir>]
      composed webtext curation (decode -> lang-ID -> quality gate ->
      exact dedup -> per-lang hash downsample) over the input contract

This replaces the reference's Lambda/argparse drivers
(/root/reference/lambda_function.py:122-174,
xbrl_batch_processor.py:629-680) — note the reference's --process-only /
corp_codes paths are broken (SURVEY.md §0); here every stage is a
first-class job with explicit inputs.
"""

from __future__ import annotations

import argparse
import json
import sys

from .operators.frontier import FrontierStore
from .operators.scheduler import seeds_to_frontier
from .plans import pipeline
from .schemas import SEEDS
from .session import get_spark

RUN_TS_DEFAULT = "2026-01-16 00:00:00"
ROBOTS_HELP = ("parquet of robots.txt bodies (host, robots_txt), of "
               "single prefixes (host, disallow_prefix, crawl_delay_ms) or "
               "of rules (host, rules array<struct<prefix, pattern, allow, "
               "rlen>>, crawl_delay_ms)")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dart_xbrl_crawler_spark")
    p.add_argument("--run-ts", default=RUN_TS_DEFAULT, help="injected run timestamp (determinism: never wall-clock)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bootstrap")
    b.add_argument("--seeds", required=True)
    b.add_argument("--store", required=True)
    # crawl date-window targeting (reference: MONTHS_BACK env /
    # START_YMD+END_YMD override, dart_api_manager.py:220-232)
    b.add_argument("--months-back", type=int, default=None,
                   help="limit seeds to run_ts - N*30 days .. run_ts")
    b.add_argument("--bgn-de", default=None, help="explicit YYYYMMDD window start (with --end-de)")
    b.add_argument("--end-de", default=None, help="explicit YYYYMMDD window end (with --bgn-de)")
    b.add_argument("--seen-filter", choices=("bloom", "cuckoo"), default=None,
                   help="URL-seen structure for a NEW store (persisted; "
                        "cuckoo adds deletion → expire/resurrect)")

    e = sub.add_parser("expand")
    e.add_argument("--urls", required=True)
    e.add_argument("--store", required=True)

    f = sub.add_parser("fetch")
    f.add_argument("--pages", required=True)
    f.add_argument("--robots", required=True, help=ROBOTS_HELP)
    f.add_argument("--store", required=True)
    f.add_argument("--round-ms", type=int, default=60_000)
    f.add_argument("--round-id", type=int, default=0)

    x = sub.add_parser("extract")
    x.add_argument("--pages", required=True)
    x.add_argument("--seeds", required=True)
    x.add_argument("--corp-map", required=True)
    x.add_argument("--out", required=True)

    c = sub.add_parser("crawl")
    c.add_argument("--pages", required=True)
    c.add_argument("--robots", required=True, help=ROBOTS_HELP)
    c.add_argument("--store", required=True)
    c.add_argument("--max-rounds", type=int, default=5)
    c.add_argument("--round-ms", type=int, default=60_000)
    c.add_argument("--no-discover", action="store_true",
                   help="skip link discovery between rounds")
    c.add_argument("--text-out", default=None,
                   help="append per-round extracted text to this parquet dir")
    c.add_argument("--seeds", default=None,
                   help="seed list parquet, required with --text-out: gives "
                        "the DART pages their report_nm/rcept_dt, so XBRL "
                        "ZIPs parse (plain web seeds carry no meta)")
    c.add_argument("--backoff-factor", type=float, default=None,
                   help="adaptive politeness: delay x (1 + f*fail_rate)")
    c.add_argument("--priority-decay", type=float, default=1.0,
                   help="discovered links inherit max(parent priority) - decay")
    c.add_argument("--keep-traps", action="store_true",
                   help="disable the crawl-trap gate on discovered links "
                        "(depth/segment-echo/params/length rules)")
    c.add_argument("--keep-assets", action="store_true",
                   help="also follow static-asset links (css/js/media/"
                        "archives) instead of dropping them at discovery")

    r = sub.add_parser("recrawl")
    r.add_argument("--store", required=True)
    r.add_argument("--before", default=None,
                   help="re-queue rows fetched before this 'YYYY-MM-DD HH:MM:SS'")
    r.add_argument("--hints", default=None,
                   help="parquet of (url, lastmod) sitemap/feed hints: "
                        "re-queue exactly the urls whose fetch predates "
                        "the advertised lastmod (targeted freshness)")

    ex = sub.add_parser("expire")
    ex.add_argument("--store", required=True)
    ex.add_argument("--before", required=True,
                    help="tombstone terminal rows fetched before this timestamp")

    s = sub.add_parser("status")
    s.add_argument("--store", required=True)

    cu = sub.add_parser("curate")
    cu.add_argument("--pages", required=True)
    cu.add_argument("--out", required=True)
    cu.add_argument("--stats-out", default=None)
    cu.add_argument("--min-words", type=int, default=5)
    cu.add_argument("--max-dup-line-frac", type=float, default=0.3)
    cu.add_argument("--max-top-bigram-frac", type=float, default=0.2)
    cu.add_argument(
        "--sample",
        action="append",
        default=[],
        metavar="LANG=HEXCEIL",
        help="per-language md5 keep threshold, e.g. en=4 (~25%%)",
    )
    cu.add_argument(
        "--redact-pii",
        action="store_true",
        help="scrub emails/IPv4/+phones to tags on surviving rows",
    )
    cu.add_argument(
        "--host-short-frac",
        type=float,
        default=None,
        help="domain gate: drop all docs from hosts whose share of "
             "sub-200-char docs exceeds this fraction",
    )

    args = p.parse_args(argv)
    if args.cmd == "crawl" and args.text_out and not args.seeds:
        p.error("crawl --text-out requires --seeds")
    spark = get_spark(f"cli-{args.cmd}")

    if getattr(args, "store", None):
        store = FrontierStore(args.store, seen_filter=getattr(args, "seen_filter", None))
        if args.cmd in ("expand", "fetch", "recrawl", "expire"):
            # bound the metrics chains the command is about to grow; fold
            # BEFORE it runs, while no frame of it reads the chain files
            # the fold deletes (crawl folds between its own rounds)
            store._maybe_compact_metrics(spark)

    if args.cmd == "bootstrap":
        from pyspark.sql import functions as F

        from .operators.scheduler import date_window

        seeds = spark.read.parquet(args.seeds)
        if "url" in seeds.columns:
            # plain web seeds (url [, priority]) — bootstrap directly;
            # the DART date window applies only to rcept seed lists
            urls = (
                seeds
                if "priority" in seeds.columns
                else seeds.withColumn("priority", F.lit(0.0))
            )
        else:
            window = date_window(
                args.run_ts,
                months_back=args.months_back,
                bgn_de=args.bgn_de,
                end_de=args.end_de,
            )
            urls = seeds_to_frontier(seeds, window=window)
        snap = store.bootstrap(urls, args.run_ts)
        print(json.dumps({"snapshot": snap, "states": store.state_counts(spark)}))
    elif args.cmd == "expand":
        urls = spark.read.parquet(args.urls)
        snap, n_ins, n_dup = store.insert(spark, urls, args.run_ts)
        print(json.dumps({"snapshot": snap, "inserted": n_ins, "deduped": n_dup}))
    elif args.cmd == "fetch":
        snap, fetched = store.run_round(
            spark,
            spark.read.parquet(args.pages),
            spark.read.parquet(args.robots),
            args.run_ts,
            round_id=args.round_id,
            round_ms=args.round_ms,
        )
        print(
            json.dumps(
                {
                    "snapshot": snap,
                    "fetched_pages": fetched.count(),
                    "states": store.state_counts(spark),
                }
            )
        )
    elif args.cmd == "crawl":
        seeds = spark.read.parquet(args.seeds) if args.text_out else None
        if seeds is not None and "url" in seeds.columns:
            # plain web seeds (see bootstrap): no page carries XBRL meta
            seeds = spark.createDataFrame([], SEEDS)
        rounds = store.run_crawl(
            spark,
            spark.read.parquet(args.pages),
            spark.read.parquet(args.robots),
            args.run_ts,
            max_rounds=args.max_rounds,
            round_ms=args.round_ms,
            discover=not args.no_discover,
            text_out=args.text_out,
            backoff_factor=args.backoff_factor,
            priority_decay=args.priority_decay,
            drop_traps=not args.keep_traps,
            drop_assets=not args.keep_assets,
            seeds=seeds,
        )
        print(json.dumps({"rounds": rounds, "states": store.state_counts(spark)}))
    elif args.cmd == "extract":
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds)
        corp_map = spark.read.parquet(args.corp_map)
        facts = pipeline.run_extract(pages, seeds, corp_map, args.run_ts)
        pipeline.write_facts(facts.drop("url"), args.out)
        print(json.dumps({"out": args.out}))
    elif args.cmd == "recrawl":
        if (args.before is None) == (args.hints is None):
            raise SystemExit("recrawl: exactly one of --before/--hints")
        if args.hints:
            n = store.recrawl_hints(spark, spark.read.parquet(args.hints))
        else:
            n = store.recrawl(spark, args.before)
        print(json.dumps({"requeued": n, "states": store.state_counts(spark)}))
    elif args.cmd == "expire":
        n = store.expire(spark, args.before)
        print(json.dumps({"expired": n, "states": store.state_counts(spark)}))
    elif args.cmd == "status":
        print(json.dumps(store.state_counts(spark)))
    elif args.cmd == "curate":
        from .plans.webtext import curate

        thresholds = dict(kv.split("=", 1) for kv in args.sample)
        corpus, stats = curate(
            spark.read.parquet(args.pages),
            min_words=args.min_words,
            max_dup_line_frac=args.max_dup_line_frac,
            max_top_bigram_frac=args.max_top_bigram_frac,
            sample_thresholds=thresholds or None,
            redact=args.redact_pii,
            host_short_frac=args.host_short_frac,
        )
        corpus.write.mode("overwrite").parquet(args.out)
        funnel = {r["stage"]: r["rows"] for r in stats.collect()}
        if args.stats_out:
            stats.write.mode("overwrite").parquet(args.stats_out)
        print(json.dumps({"out": args.out, "funnel": funnel}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
