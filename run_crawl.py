"""CLI entry point for the frontier crawl — spark-submit launch path.

Packaging (north_rule: `spark-submit --py-files` on a multi-executor
cluster):

    cd /root/repo && zip -qr /tmp/spider_engine_spark.zip spider_engine_spark
    spark-submit --master <cluster> --py-files /tmp/spider_engine_spark.zip \
        run_crawl.py --root /tmp/crawl --seeds 100 --steps 5

Prints one JSON line per superstep (the lineage/metrics record) and a
final summary line with urls_per_sec (scheduled+deduped throughput).
"""

from __future__ import annotations

import argparse
import json
import time

# argparse defaults shared with migration_ignored_flags: the guard
# compares against THESE — a hardcoded copy would silently drift if the
# default ever changed, which is the exact bug class the guard exists
# to prevent
DEFAULT_SEEDS = 100
DEFAULT_STEPS = 5
DEFAULT_SALTS = 4
DEFAULT_CHECKPOINT_EVERY = 1


def migration_ignored_flags(args: argparse.Namespace) -> list[str]:
    """Flags a --migrate-* run would silently ignore (the migration job
    takes ONLY the --migrate-* values; its final resume is a
    default-flags CrawlJob). --capacity is an easy typo for
    --migrate-capacity — pretending it took effect is worse than an
    error. Pure function of the parsed namespace so the guard is
    unit-testable without a Spark session."""
    return [
        flag
        for flag, val in (
            ("--shards", args.shards),
            ("--capacity", args.capacity),
            ("--hosts", args.hosts),
            ("--words", args.words),
            ("--vocab", args.vocab),
            ("--no-flush", args.no_flush or None),
            ("--no-index", args.no_index or None),
            ("--seeds", args.seeds if args.seeds != DEFAULT_SEEDS else None),
            ("--steps", args.steps if args.steps != DEFAULT_STEPS else None),
            ("--salts", args.salts if args.salts != DEFAULT_SALTS else None),
            (
                "--checkpoint-every",
                args.checkpoint_every
                if args.checkpoint_every != DEFAULT_CHECKPOINT_EVERY
                else None,
            ),
        )
        if val is not None
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="crawl state dir (TableIO root)")
    ap.add_argument("--seeds", type=int, default=DEFAULT_SEEDS)
    ap.add_argument("--steps", type=int, default=DEFAULT_STEPS)
    ap.add_argument("--shards", type=int, default=None,
                    help="seen-set shard count (default 8 on bootstrap; on "
                    "resume the value stored in the crawl root is restored "
                    "— passing a conflicting value is an error)")
    ap.add_argument("--salts", type=int, default=DEFAULT_SALTS)
    ap.add_argument("--capacity", type=int, default=None,
                    help="cuckoo-filter capacity per shard (default 2^16 on "
                    "bootstrap; restored from the crawl root on resume)")
    ap.add_argument("--no-index", action="store_true")
    ap.add_argument("--migrate-shards", type=int, default=None,
                    help="re-shard an existing crawl root to this shard "
                    "count (standalone migration job; rebuilds the "
                    "seen/filter layout, then exits)")
    ap.add_argument("--migrate-capacity", type=int, default=None,
                    help="with/instead of --migrate-shards: rebuild with "
                    "this cuckoo capacity per shard")
    ap.add_argument("--hosts", type=int, default=None, help="web size (WebConfig.num_hosts)")
    ap.add_argument("--words", type=int, default=None, help="words per text span (WebConfig.words_per_span)")
    ap.add_argument("--vocab", type=int, default=None, help="vocabulary size (WebConfig.vocab_size)")
    ap.add_argument("--checkpoint-every", type=int,
                    default=DEFAULT_CHECKPOINT_EVERY)
    ap.add_argument("--no-flush", action="store_true",
                    help="measurement mode: skip the final state snapshot")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    migrating = (
        args.migrate_shards is not None or args.migrate_capacity is not None
    )
    if migrating:
        # validate before get_spark: an argparse error must not cost a
        # JVM launch
        ignored = migration_ignored_flags(args)
        if ignored:
            ap.error(
                f"not valid on a migration run: {', '.join(ignored)} "
                "— use --migrate-shards/--migrate-capacity (web physics "
                "are restored from the crawl root)"
            )

    from spider_engine_spark import webmodel as wm
    from spider_engine_spark.operators.frontier import CrawlJob
    from spider_engine_spark.session import get_spark

    spark = get_spark(
        app_name="frontier-crawl",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg_kw = {}
    if args.hosts:
        cfg_kw["num_hosts"] = args.hosts
    if args.words:
        cfg_kw["words_per_span"] = args.words
    if args.vocab:
        cfg_kw["vocab_size"] = args.vocab
    cfg = wm.WebConfig(**cfg_kw) if cfg_kw else wm.DEFAULT
    if migrating:
        t0 = time.monotonic()
        job = CrawlJob.migrate_layout(
            spark,
            args.root,
            num_shards=args.migrate_shards,
            capacity_per_shard=args.migrate_capacity,
        )
        print(
            json.dumps(
                {
                    "migrated": True,
                    "num_shards": job.num_shards,
                    "capacity_per_shard": job.capacity,
                    "layout_epoch": job.layout_epoch,
                    "wall_sec": round(time.monotonic() - t0, 3),
                }
            ),
            flush=True,
        )
        spark.stop()
        return
    t0 = time.monotonic()
    job = CrawlJob(
        spark,
        args.root,
        seeds=wm.seed_urls(args.seeds, cfg),
        num_shards=args.shards,
        capacity_per_shard=args.capacity,
        salts=args.salts,
        index=not args.no_index,
        cfg=cfg,
        checkpoint_every=args.checkpoint_every,
    )
    total_processed = 0
    step_wall = 0.0
    for _ in range(args.steps):
        m = job.run_step()
        # throughput unit: URLs scheduled (fetched) + deduped (candidates
        # pushed through the seen-set) per second
        total_processed += m.get("fetched", 0) + m.get("candidates", 0)
        step_wall += m.get("duration_sec") or 0.0
        print(json.dumps(m), flush=True)
    if not args.no_flush:
        job.flush()
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "summary": True,
                "steps": args.steps,
                "urls_processed": total_processed,
                "wall_sec": round(wall, 3),
                "urls_per_sec": round(total_processed / wall, 1),
                # steady-state superstep throughput: excludes bootstrap and
                # the final flush (both fixed-bandwidth snapshot IO that
                # scales with DFS width on a real cluster, not with cores)
                "step_wall_sec": round(step_wall, 3),
                "urls_per_sec_steps": round(total_processed / step_wall, 1)
                if step_wall
                else None,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
