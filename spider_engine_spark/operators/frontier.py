"""URL-frontier + fetch scheduler — the north-star system.

Superstep dataflow (north_rule; all state through snapshot-commit TableIO):

  frontier ──salted two-phase per-host top-k──> fetch batch
     batch ──mapInArrow(make_doc)──> interleaved docs (spans)
     docs  ──explode media spans──> raw outlinks
     links ──canonicalize+enrich (pure JVM expressions)──> candidates
     candidates ──robots filter──> allowed
     allowed ──xxhash64 shard──> cuckoo probe (minimal-traffic: only
              (shard,hash) crosses the Arrow boundary; the tiny
              maybe-set joins back, AQE broadcasts it)
     maybe  ──exact anti-join vs seen──> truly-new (FP audit metric)
     admitted = definitely-new ∪ truly-new  ──> frontier', seen', filter'
     docs   ──tokenize text spans (hybrid JVM/UDF, T4)──> postings append
  commit frontier'/seen'/filter'/docs/postings + step metrics (lineage)

Politeness: per-host budget = TICKS_PER_STEP // crawl_delay(host)
(robots crawl-delay model, webmodel.crawl_delay). Hot-host skew is
handled by the salted two-phase ranking: row_number over (host, salt)
bounds any single window partition to ~|host|/SALTS rows before the
final per-host top-k — a two-phase aggregation in the north_rule's sense.

Priority queue: rank key within host = (priority, depth,
discovered_step, url) — host-priority, depth, recency, with the url as
the deterministic tiebreak (SURVEY.md §7.3 risk 6).

Resume: every table is a TableIO snapshot; the frontier snapshot's meta
carries the step counter + metrics, so `CrawlJob(spark, root)` on an
existing root continues exactly where the last committed superstep left
off (crash between writes re-runs the step idempotently from the last
fully-committed frontier).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from spider_engine_spark import webmodel as wm
from spider_engine_spark.functions.hashes import md5_h60_col
from spider_engine_spark.operators import seenset
from spider_engine_spark.operators.postings import aggregate_postings, merge_postings
from spider_engine_spark.pins import pin, release, scope
from spider_engine_spark.session import local_frame
from spider_engine_spark.sources.tableio import TableIO

SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("kind", StringType(), False),
            StructField("text", StringType(), False),
            StructField("media_ref", StringType(), False),
            StructField("offset", IntegerType(), False),
        ]
    )
)

FRONTIER_SCHEMA = (
    "url string, host string, depth int, priority int, budget int, "
    "discovered_step int"
)
CAND_SCHEMA = "url string, host string, depth int, priority int, budget int, allowed boolean"
DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", SPAN_SCHEMA, False),
        StructField("fetch_step", IntegerType(), False),
    ]
)


def host_attr_cols(cfg: wm.WebConfig, host=None):
    """JVM-native (priority, budget) columns for a host column.

    Bit-identical to webmodel.host_priority / host_budget: the attribute
    law is a 60-bit md5 truncation (webmodel.attr_h60) chosen precisely
    so conv(substring(md5(...), 1, 15), 16, 10) reproduces it inside
    whole-stage codegen — the outlink stream's host column never crosses
    into Python (this replaced a pandas UDF that round-tripped every
    candidate row's host through Arrow; parity is property-tested in
    tests/test_properties.py)."""
    host = F.col("host") if host is None else host

    def h60(prefix: str):
        return md5_h60_col(F.concat(F.lit(prefix), host))

    delay = F.lit(1) + (h60("delay:") % 4)
    budget = F.greatest(
        F.lit(1), F.floor(F.lit(int(cfg.ticks_per_step)) / delay)
    ).cast("int")
    priority = (h60("prio:") % 3).cast("int")
    return priority, budget


def enrich_candidates(
    raw: DataFrame, cfg: wm.WebConfig = wm.DEFAULT
) -> DataFrame:
    """raw(url_raw, depth) -> canonical candidates with host attributes.

    Canonicalization, host/path split, the robots prefix test AND the
    host attribute laws are pure JVM expressions (whole-stage codegen
    over the multi-billion-row outlink stream) — enrich contains ZERO
    Python. webmodel stays the single source of truth shared with the
    replay simulator (the md5-based attr law is bit-identical on both
    sides, see host_attr_cols). The attrs are recomputed per row: they
    are pure functions of the host string, and a broadcast-joined
    host-attr table measured slower (BENCH/BASELINE.md §4).

    Plan shape: the canonicalizer runs as a LADDER of narrow
    projections (each intermediate — stripped input, scheme, rest,
    netloc, path — is computed ONCE into a column and the next rung
    references it as an attribute). Column expressions are trees, not
    DAGs: inlining the whole canonicalizer plus a host/path re-split
    into one projection duplicates the regexp chain dozens of times per
    row, blowing the generated processNext() past the JVM's 64 KB method
    limit (whole-stage codegen falls back to interpreted) and
    re-evaluating each regexp per reference. Catalyst's CollapseProject
    keeps the rungs separate (it refuses to inline non-cheap
    expressions referenced more than once), so the whole ladder still
    fuses into ONE whole-stage-codegen stage with each step evaluated
    exactly once. The canonical host/path fall out of the ladder's own
    netloc/path rungs — no re-split of the finished URL, so a path
    embedding '://' can never confuse the host."""
    # webmodel.canonicalize: strip, cut fragment, strip; default scheme
    # http; lowercase scheme+netloc; drop :80; collapse empty path to
    # '/'. Python str.strip() strips UNICODE whitespace; (?U) makes
    # Java's \s match the same class
    ws = r"(?U)^\s+|\s+$"
    stripped = F.regexp_replace(F.col("url_raw"), ws, "")
    u = F.regexp_replace(F.substring_index(stripped, "#", 1), ws, "")
    s1 = raw.select(u.alias("_u"), "depth")
    # split at the FIRST '://' (substring_index(…, -1) would split at the
    # last — wrong for e.g. 'http://h/redirect?to=b://c')
    s2 = s1.select(
        "*",
        F.col("_u").contains("://").alias("_has"),
        F.substring_index("_u", "://", 1).alias("_first"),
    )
    s3 = s2.select(
        "depth",
        F.when(F.col("_has"), F.lower(F.col("_first")))
        .otherwise(F.lit("http"))
        .alias("_scheme"),
        F.when(
            F.col("_has"),
            F.col("_u").substr(
                F.length("_first") + 4, F.length("_u")
            ),
        )
        .otherwise(F.col("_u"))
        .alias("_rest"),
    )
    s4 = s3.select("*", F.instr(F.col("_rest"), "/").alias("_slash"))
    netloc = F.regexp_replace(
        F.lower(
            F.when(
                F.col("_slash") > 0,
                F.substring(F.col("_rest"), F.lit(1), F.col("_slash") - 1),
            ).otherwise(F.col("_rest"))
        ),
        # \z = absolute end of input: '$' would also match before a
        # final line terminator (LF, CRLF, U+0085, U+2028), diverging
        # from Python's endswith(':80')
        r":80\z",
        "",
    )
    path = F.when(
        F.col("_slash") > 0,
        F.col("_rest").substr(F.col("_slash"), F.length("_rest")),
    ).otherwise(F.lit("/"))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    s5 = s4.select(
        "depth", "_scheme", netloc.alias("_netloc"), path.alias("_path")
    )
    tagged = s5.select(
        F.concat(F.col("_scheme"), F.lit("://"), F.col("_netloc"), F.col("_path")).alias("url"),
        F.col("_netloc").alias("host"),
        "depth",
        # single source of truth: the same disallow prefix the pure-
        # Python robots_allowed (and the replay simulator) uses
        (~F.col("_path").startswith(wm.ROBOTS_DISALLOW_PREFIX)).alias("allowed"),
    )
    priority, budget = host_attr_cols(cfg)
    return tagged.select(
        "url",
        "host",
        "depth",
        priority.alias("priority"),
        budget.alias("budget"),
        "allowed",
    )


def fetch_docs(batch: DataFrame, step: int, cfg: wm.WebConfig = wm.DEFAULT) -> DataFrame:
    """Fetch simulation: url -> interleaved text+media span document.

    The input is repartitioned to the cluster's core count first: AQE
    coalesces shuffle outputs by BYTES, which under-parallelizes
    compute-heavy Python stages (a few KB of URLs can carry minutes of
    fetch work) — partition count here must track compute, not size.

    mapInArrow, not mapInPandas: the span payload is a list-of-struct
    column, which pandas can only carry as a python-object column that
    Arrow must re-infer and convert row by row on every batch; building
    the ListArray-of-StructArray directly from make_doc's dicts skips
    that whole conversion (guide §4.2 — hand Arrow the columnar form).
    Rows and values are identical."""
    import pyarrow as pa

    batch = batch.repartition(batch.sparkSession.sparkContext.defaultParallelism)
    span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            docs = [wm.make_doc(u, cfg) for u in b.column("url").to_pylist()]
            n = len(docs)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([d["doc_id"] for d in docs], pa.string()),
                    pa.array([d["spans"] for d in docs], span_type),
                    pa.array([step] * n, pa.int32()),
                ],
                ["doc_id", "spans", "fetch_step"],
            )

    return batch.select("url").mapInArrow(fn, DOC_SCHEMA)


def select_fetch_batch(frontier: DataFrame, salts: int) -> DataFrame:
    """Salted two-phase per-host top-budget selection (skew-proof)."""
    rank_cols = [
        F.asc("priority"),
        F.asc("depth"),
        F.asc("discovered_step"),
        F.asc("url"),
    ]
    salted = frontier.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(salts)).cast("int")
    )
    w1 = Window.partitionBy("host", "salt").orderBy(*rank_cols)
    phase1 = (
        salted.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= F.col("budget"))
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy("host").orderBy(*rank_cols)
    return (
        phase1.withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= F.col("budget"))
        .drop("r2")
    )


def index_docs(docs: DataFrame) -> DataFrame:
    """The spider-engine graft: tokenize text spans (T4 law) -> inverted
    postings (doc key = canonical url).

    Tokenization goes through the HYBRID words dispatcher
    (postings.field_tokens): printable-ASCII span text — the entire
    synthetic web vocabulary — runs as a pure-JVM codegen ladder
    (property-tested bit-equal to the Python splitter), so the per-step
    index phase carries no ArrowEvalPython node at all; any non-ASCII
    or oversize doc still falls back to the pandas-UDF path with
    identical semantics."""
    texts = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "text")
        .select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.col("s.text").alias("text"),
        )
    )
    # doc-level text = ordered concat of text spans (the reference indexes
    # whole fields; span order is the forward-index round-trip invariant)
    per_doc = texts.groupBy("doc_id").agg(
        F.concat_ws(
            " ", F.transform(F.sort_array(F.collect_list(F.struct("offset", "text"))), lambda s: s.text)
        ).alias("spans_text")
    )
    per_doc = per_doc.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )  # tokenizer parallelism (see fetch_docs note: AQE coalesces by
    #    bytes, which would starve the compute-heavy tokenize stage)
    n_buckets = docs.sparkSession.sparkContext.defaultParallelism * 2
    from spider_engine_spark.operators.postings import field_tokens

    toks = field_tokens(
        per_doc.select(
            F.xxhash64("doc_id").alias("doc_key"), "spans_text"
        ),
        "doc_key",
        "spans_text",
        "words",
    )
    return aggregate_postings(toks, doc_buckets=n_buckets)


@dataclass
class _Staged:
    """A table's puts since the last flush (checkpoint_every > 1)."""

    frames: list[DataFrame]
    append: bool
    meta: dict
    partition_by: list[str] | None


# table -> (max_bytes, transform) of its compact_every fold; unlisted
# tables are never folded.
# - filter folds ALL dirs (max_bytes=inf), not just undersized ones: its
#   garbage is defined by SUPERSESSION (older rows for a re-dirtied
#   shard), not by dir size — at the 10^10-URL sizing most shards are
#   dirty every step, so a size criterion would never fold them. Cost:
#   one full-state write every compact_every steps, and the
#   latest-per-shard read fans over <= compact_every dirs.
# - seen and postings fold only the undersized snapshots
#   (read-amplification control; large already-compacted dirs are reused
#   untouched — the reference's pick-undersized-groups planner,
#   table.go:874-971). Admitted sets are disjoint by construction, so a
#   concat merge keeps seen distinct.
_COMPACTION = {
    "filter": (1 << 60, seenset.latest_state),
    "seen": (64 << 20, None),
    "postings": (64 << 20, merge_postings),
}


class CrawlJob:
    """Distributed frontier crawl with a configurable checkpoint interval.

    Both intervals run one superstep body; the interval only decides where
    the step's state changes go, inside the state layer (_put, _get,
    flush):

    checkpoint_every=1 (default): each put commits a TableIO snapshot at
    once — maximum durability, one parquet commit per table per step (the
    reference's flush-per-threshold analogue, table.go:503-508).

    checkpoint_every=N>1: each put is materialized as a local checkpoint
    and staged; every N supersteps (and on flush()) the staged tables
    commit as the same snapshots, frontier last. This is the standard
    iterative-Spark design (Pregel-style): at 1000 executors you don't pay
    a distributed-FS commit per superstep; a crash replays at most N-1
    steps from the last commit. Results are bit-identical in both modes
    (the replay tests run both).

    State: five tables with one format each — frontier (the commit point;
    its meta carries the step, the web physics, the attr law and the
    seen-set layout num_shards/capacity_per_shard/layout_epoch), docs,
    seen, filter (append-only step-tagged dirty-shard rows) and postings.
    A resume restores the layout from the frontier meta and raises when
    the meta lacks it or names another attr law.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        seeds: list[str] | None = None,
        num_shards: int | None = None,
        capacity_per_shard: int | None = None,
        salts: int = 4,
        index: bool = True,
        cfg: wm.WebConfig | None = None,
        compact_every: int = 4,
        checkpoint_every: int = 1,
    ):
        self.compact_every = compact_every
        self.checkpoint_every = checkpoint_every
        self.spark = spark
        self.io = TableIO(root)
        self.salts = salts
        self.index = index
        self._mem: dict[str, _Staged] = {}
        if self.io.exists("frontier"):
            meta = self.io.meta("frontier")
            self.step_no = int(meta.get("step", 0))
            # resume with the same web physics AND the same seen-set
            # layout the crawl was bootstrapped with — the reference
            # reloads all layout state from meta on boot
            # (core/table/table.go:163-210). The sharding parameters are
            # layout, not tuning: the persisted filter/seen tables are
            # partitioned mod num_shards, so resuming with a different
            # value would probe the WRONG filter shard — cuckoo false
            # negatives, the one property the design forbids. A
            # conflicting explicit value therefore raises (a true
            # re-shard needs a migration job); omitted args restore the
            # stored layout.
            stored = meta.get("web_config")
            self.cfg = wm.WebConfig(**stored) if stored else (cfg or wm.DEFAULT)
            self.num_shards = self._restore_layout(
                meta, "num_shards", num_shards
            )
            self.capacity = self._restore_layout(
                meta, "capacity_per_shard", capacity_per_shard
            )
            # the frontier stores priority/budget derived from the host
            # under the attribute law its tag names
            if meta.get("attr_law") != wm.ATTR_LAW:
                raise ValueError(
                    f"crawl root frontier meta has attr_law="
                    f"{meta.get('attr_law')!r}; resuming under attr_law="
                    f"{wm.ATTR_LAW!r} would mix two laws in the stored "
                    "host priority/budget"
                )
            # layout epoch: bumped by migrate_layout; tables written with
            # a HIGHER epoch than the committed frontier's are orphans of
            # a migration that never reached its commit point
            self.layout_epoch = int(meta.get("layout_epoch", 0))
            self._revert_orphans()
        elif seeds is not None:
            self.cfg = cfg or wm.DEFAULT
            # at bootstrap the chosen values (explicit or default) DEFINE
            # the layout
            self.num_shards = 8 if num_shards is None else int(num_shards)
            self.capacity = (
                1 << 16 if capacity_per_shard is None else int(capacity_per_shard)
            )
            self.layout_epoch = 0
            self._bootstrap(seeds)
        else:
            raise ValueError("new crawl root requires seeds")

    @staticmethod
    def _restore_layout(meta: dict, key: str, given: int | None) -> int:
        """Resolve one layout parameter on resume: the value stored in
        the frontier meta, which every frontier commit stamps. Raises
        ValueError when the meta lacks the key (a root this code never
        wrote) or when `given` conflicts with the stored value."""
        stored = meta.get(key)
        if stored is None:
            raise ValueError(
                f"crawl root frontier meta has no {key}: the seen-set "
                "layout cannot be restored"
            )
        if given is not None and int(given) != int(stored):
            raise ValueError(
                f"crawl root was bootstrapped with {key}={int(stored)}; "
                f"resuming with {key}={int(given)} would mis-shard the "
                "persisted seen-set (re-sharding requires a migration "
                "job) — omit the argument to resume with the stored layout"
            )
        return int(stored)

    def _layout_meta(self) -> dict:
        """Meta fields every frontier commit carries, so ANY resume point
        (bootstrap or mid-crawl) restores the full layout + physics."""
        return {
            "web_config": self.cfg.__dict__,
            "attr_law": wm.ATTR_LAW,
            "layout_epoch": self.layout_epoch,
            "num_shards": self.num_shards,
            "capacity_per_shard": self.capacity,
        }

    @classmethod
    def migrate_layout(
        cls,
        spark: SparkSession,
        root: str,
        num_shards: int | None = None,
        capacity_per_shard: int | None = None,
    ) -> "CrawlJob":
        """Re-shard a persisted crawl root to a new seen-set layout.

        This is the migration job the resume-conflict error refers to: a
        crawl's filter/seen tables are partitioned mod num_shards, so
        changing the layout means rebuilding both from the exact seen
        table (the authoritative URL set) — re-deriving shard =
        pmod(xxhash64, P') and re-inserting every hash into fresh
        per-shard cuckoo filters. One shuffle over seen for the
        re-partition + one cogroup for the rebuild; no driver-side data.
        The reference's analogue is its offline partition merge/rewrite
        (core/table/table.go:874-971) — layout changes happen as a
        standalone rewrite job, never in the serving path.

        Commit protocol (crash-safe, reusing the orphan-revert machinery):
        the rebuilt seen + filter snapshots are written with
        layout_epoch = E+1 while the committed frontier still carries E;
        the frontier's metadata-only commit stamping the new layout and
        epoch is the single commit point. A crash before it leaves
        higher-epoch orphans that _revert_orphans rolls back on the next
        resume, so the stored layout and the table sharding can never
        disagree. The insert sorts each shard's hashes, making the
        migrated filter bytes a deterministic function of the URL set —
        WITHIN one code version:
        the cuckoo bulk-insert placement law (all first-choice winners
        placed before any second-choice placements since the vectorized
        two-pass rewrite) is part of that function, so rebuilt-filter
        bytes are only ever comparable when both rebuilds ran the same
        cuckoo.py. Membership semantics are version-stable; byte-level
        comparisons across code versions are not meaningful.

        Omitted parameters keep their current values. Returns a resumed
        CrawlJob on the new layout (a plain default-flags resume — pass
        your own flags to a fresh CrawlJob if you need e.g. index=False).
        Raises if any re-sharded shard would exceed the new design
        capacity."""
        io = TableIO(root)
        if not io.exists("frontier"):
            raise FileNotFoundError(f"no crawl root at {root}")
        # resume first: checks the attr law, runs orphan-revert, and
        # resolves (or rejects) the stored layout
        job = cls(spark, root)
        new_shards = job.num_shards if num_shards is None else int(num_shards)
        new_cap = (
            job.capacity
            if capacity_per_shard is None
            else int(capacity_per_shard)
        )
        if (new_shards, new_cap) == (job.num_shards, job.capacity):
            return job  # layout unchanged — no-op
        # a capacity-only change keeps the stored shard column and skips
        # the seen rewrite entirely (only the filters need rebuilding —
        # rewriting 10^10 byte-identical seen rows would be pure write
        # amplification)
        reshard_seen = new_shards != job.num_shards
        if reshard_seen:
            reshard = (
                job.io.read(spark, "seen")
                .select("url", "hash")
                .withColumn(
                    "shard", seenset.shard_expr(F.col("hash"), new_shards)
                )
            )
        else:
            reshard = job.io.read(spark, "seen")
        # the re-shard is consumed by up to three passes (validation agg,
        # seen rewrite, filter-rebuild cogroup): persist so the seen scan
        # + re-hash runs once, not per consumer
        with scope():
            reshard = pin(reshard)
            worst = (
                reshard.groupBy("shard")
                .agg(F.count("*").alias("n"))
                .agg(
                    F.max_by("shard", "n").alias("shard"),
                    F.max("n").alias("n"),
                )
                .first()
            )
            if worst["n"] is not None and int(worst["n"]) > new_cap:
                raise ValueError(
                    f"cannot migrate to num_shards={new_shards}, "
                    f"capacity_per_shard={new_cap}: shard {worst['shard']} "
                    f"would hold {worst['n']} URLs (> capacity) — raise "
                    "the capacity or the shard count"
                )
            step = job.step_no
            epoch = job.layout_epoch + 1
            mig_meta = {"step": step, "layout_epoch": epoch}
            if reshard_seen:
                # repartition by the hive key so each task owns whole
                # shards: without it every input task emits a file per
                # new shard it touches (tasks x new_shards small files —
                # the same explosion measured at 2,050-vs-64 files on
                # the catalog postings write), and the migrated table
                # would be born read-amplified at the 10^10-row scale
                job.io.write(
                    "seen",
                    reshard.repartition("shard"),
                    meta=mig_meta,
                    partition_by=["shard"],
                )
            state = seenset.insert(
                reshard.select("shard", "hash"),
                seenset.empty_state(spark),
                new_cap,
            )
            job.io.write(
                "filter",
                state.withColumn("step", F.lit(step)),
                meta=mig_meta,
            )
            # COMMIT POINT: metadata-only frontier commit carrying the new
            # layout + epoch (frontier DATA is layout-independent)
            job.io.commit_meta(
                "frontier",
                {
                    **job.io.meta("frontier"),
                    "num_shards": new_shards,
                    "capacity_per_shard": new_cap,
                    "layout_epoch": epoch,
                },
            )
        return cls(spark, root)

    def _revert_orphans(self) -> None:
        """Crash recovery (both modes): the frontier commit is the commit
        point (written last, durable per-step or at checkpoint time); any
        table already carrying meta step > the frontier's step is an
        orphan write from a crashed attempt — snapshot-revert it before
        re-running idempotently. In memory mode durable state only moves
        at checkpoints, so this no-ops between them.

        A table whose meta layout_epoch is AHEAD of the frontier's is
        likewise an orphan: a migrate_layout run that crashed before its
        frontier commit point left a re-sharded seen/filter snapshot the
        committed layout cannot probe — roll back to the newest version
        at both the committed step AND the committed epoch."""
        step = self.step_no
        epoch = self.layout_epoch
        for tbl in ("docs", "seen", "filter", "postings"):
            if self.io.exists(tbl):
                m = self.io.meta(tbl)
                if (
                    int(m.get("step", 0)) > step
                    or int(m.get("layout_epoch", 0)) > epoch
                ):
                    v = self.io.latest_version_at_step(
                        tbl, step, max_epoch=epoch
                    )
                    if v is not None:
                        self.io.revert(tbl, v)
                    else:
                        # no version at-or-before the committed step: the
                        # table didn't exist at the commit point (crash
                        # during the FIRST checkpoint) — drop the orphan
                        self.io.drop(tbl)

    # -- state layer ---------------------------------------------------
    # The only place the two checkpoint modes differ: run_step hands every
    # state change to _put and reads state back through _get.
    def _get(self, name: str) -> DataFrame:
        """A table's current rows: the committed snapshot plus what is
        staged on top of it (staged appends union onto it; a staged
        overwrite replaces it)."""
        staged = self._mem.get(name)
        frames = list(staged.frames) if staged else []
        if (staged is None or staged.append) and self.io.exists(name):
            frames.insert(0, self.io.read(self.spark, name))
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    def _filter_state(self) -> DataFrame:
        """Current cuckoo state, one row per shard (STATE_SCHEMA).

        The filter table is append-only dirty-shard rows tagged with
        `step`, resolved latest-per-shard here."""
        return seenset.latest_state(self._get("filter")).drop("step")

    def _put(
        self,
        name: str,
        df: DataFrame,
        meta: dict,
        partition_by: list[str] | None = None,
        append: bool = False,
    ) -> DataFrame:
        """Make `df` the table's new state, or append it. Returns the rows
        put, read from where they now live, so `df` is computed once.

        checkpoint_every=1 commits a TableIO snapshot now. Otherwise `df`
        is materialized as a local checkpoint (which cuts its lineage, as
        a snapshot does) and staged with its meta and hive layout until
        flush() commits it."""
        if self.checkpoint_every == 1:
            self._write(name, df, append, meta, partition_by)
            return self.io.read_added(self.spark, name)
        df = pin(df, snapshot=True)
        staged = self._mem.get(name)
        if staged is None or not append:
            for old in staged.frames if staged else []:
                release(old)
            staged = self._mem[name] = _Staged([], append, meta, partition_by)
        staged.frames.append(df)
        staged.meta = meta
        return df

    def _write(
        self,
        name: str,
        df: DataFrame,
        append: bool,
        meta: dict,
        partition_by: list[str] | None,
    ) -> None:
        """Commit one table snapshot. Every compact_every-th step also
        folds the table's append chain (see _COMPACTION)."""
        self.io.write(
            name, df, mode="append" if append else "overwrite", meta=meta,
            partition_by=partition_by,
        )
        fold = _COMPACTION.get(name)
        if fold and meta["step"] % self.compact_every == 0:
            max_bytes, transform = fold
            self.io.compact_small(
                self.spark, name, max_bytes=max_bytes, meta=meta,
                transform=transform,
            )

    def flush(self) -> None:
        """Commit the staged tables (checkpoint_every=1 stages none).

        The frontier (the step-counter commit point) is written LAST: a
        crash mid-flush leaves the frontier at the previous commit and
        run_step's orphan-revert pass rolls the other tables back to it
        — never a frontier ahead of the seen state."""
        for name in sorted(self._mem, key=lambda n: n == "frontier"):
            staged = self._mem[name]
            self._write(
                name, reduce(DataFrame.unionByName, staged.frames),
                staged.append, staged.meta, staged.partition_by,
            )
        for staged in self._mem.values():
            for df in staged.frames:
                release(df)
        self._mem.clear()

    def _end_step(self) -> None:
        self.step_no += 1
        if self.step_no % self.checkpoint_every == 0:
            self.flush()

    def _frontier_meta(self, metrics: dict) -> dict:
        return {
            "step": self.step_no + 1,
            "metrics": dict(metrics),
            **self._layout_meta(),
        }

    # -- bootstrap ----------------------------------------------------
    def _bootstrap(self, seeds: list[str]) -> None:
        """Commit step 0 from the seed URLs. The seeds and the empty
        filter state (seenset.empty_state) are LocalRelations, so the
        frontier, seen and filter writes re-scan them without a Python
        process; only the filter insert's Arrow cogroup runs Python."""
        raw = local_frame(
            self.spark, [(u, 0) for u in seeds], "url_raw string, depth int"
        )
        cand = enrich_candidates(raw, self.cfg).filter(F.col("allowed")).drop("allowed")
        cand = seenset.with_shard(cand, "url", self.num_shards)
        # seeds can collide post-canonicalization: keep first per url
        cand = cand.dropDuplicates(["url"])
        frontier = cand.withColumn("discovered_step", F.lit(0)).select(
            *FRONTIER_SCHEMA.replace(" string", "").replace(" int", "").split(", ")
        )
        self.io.write(
            "frontier",
            frontier,
            meta={"step": 0, "metrics": {}, **self._layout_meta()},
        )
        self.io.write(
            "seen", cand.select("url", "hash", "shard"),
            meta={"step": 0, "layout_epoch": 0},
            partition_by=["shard"],
        )
        state = seenset.insert(
            cand, seenset.empty_state(self.spark), self.capacity
        )
        # durable filter rows carry a step tag; later supersteps append
        # only dirty shards and readers resolve latest-per-shard
        self.io.write(
            "filter", state.withColumn("step", F.lit(0)),
            meta={"step": 0, "layout_epoch": 0},
        )
        self.step_no = 0

    # -- one superstep ------------------------------------------------
    def run_step(self) -> dict:
        t0 = time.monotonic()
        phases: dict[str, float] = {}

        def mark(name, _last=[t0]):
            now = time.monotonic()
            phases[name] = round(now - _last[0], 3)
            _last[0] = now

        spark = self.spark
        step = self.step_no
        if not self._mem:
            self._revert_orphans()
        frontier = self._get("frontier")

        batch = pin(select_fetch_batch(frontier, self.salts))
        n_batch = batch.count()
        mark("select_batch")
        if n_batch == 0:
            metrics = {"step": step + 1, "fetched": 0, "done": True}
            self._put("frontier", frontier, self._frontier_meta(metrics))
            self._end_step()
            release(batch)
            return metrics

        # fetch: make_doc runs exactly once; the step reads its docs back
        # from _put. Hive-partitioned by fetch_step, so any step-sliced
        # replay read prunes to ONE partition dir instead of filtering a
        # scan of the whole append chain — same mechanism as `seen`'s
        # shard pruning.
        docs = self._put(
            "docs", fetch_docs(batch, step, self.cfg), {"step": step + 1},
            partition_by=["fetch_step"], append=True,
        )
        mark("fetch_write")
        # outlink extraction: media spans carry the links;
        # child depth = parent depth + 1 via doc_id == parent url
        parent_depth = batch.select(
            F.col("url").alias("doc_id"), F.col("depth").alias("pdepth")
        )
        # explode-then-project, NOT transform-before-explode: Catalyst's
        # nested-column aliasing already prunes the generator to the
        # media_ref field, and a transform+filter pre-pass measured WORSE
        # (extra per-row array materialization; A/B at local[32]:
        # 65.2s vs 78.2s enrich back-to-back)
        raw_links = (
            docs.join(F.broadcast(parent_depth), "doc_id")
            .select(F.explode("spans").alias("s"), F.col("pdepth"))
            .filter(F.col("s.media_ref") != "")
            .select(
                F.col("s.media_ref").alias("url_raw"),
                (F.col("pdepth") + 1).alias("depth"),
            )
        )

        raw_links = raw_links.repartition(
            spark.sparkContext.defaultParallelism
        )
        # The repartition above is LOAD-BEARING even now that enrich is
        # 100% JVM (it predates that, for Arrow-UDF parallelism): it
        # round-robins the outlink stream so per-partition LINK counts
        # are even (fetch partitions are budget-skewed), and it decouples
        # the heavy span-explode scan from the enrich/cache/groupBy
        # stages, which then read the narrow (url_raw, depth) shuffle
        # data instead of re-walking the span payload. Measured A/B at
        # local[32], 1.16M pages back-to-back: WITH 72.0k urls/s
        # (enrich 65.2s, probe 3.6s) / WITHOUT 44.1k (enrich 100.9s,
        # probe 11.3s). See BENCH/BASELINE.md §4.
        enriched = pin(enrich_candidates(raw_links, self.cfg))
        # ONE action for robots counts + link counts + the candidate
        # count: n_cand == |distinct allowed urls| == the size of the
        # groupBy(url) below, so counting it here saves the separate
        # cand.count() job the superstep used to pay. Two-level
        # aggregation, not count_distinct: the latter plans an Expand
        # that doubles the stream through the first aggregate, while
        # groupBy(allowed, url) partial-aggregates map-side and the
        # roll-up reproduces both values exactly (sum of per-url counts
        # == row count; group count == distinct urls).
        allow_stats = {
            bool(r["allowed"]): (r["cnt"], r["uniq"])
            for r in enriched.groupBy("allowed", "url")
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("allowed")
            .agg(
                F.sum("_c").alias("cnt"),
                F.count(F.lit(1)).alias("uniq"),
            )
            .collect()
        }
        allow_counts = {k: v[0] for k, v in allow_stats.items()}
        n_cand = allow_stats.get(True, (0, 0))[1]
        mark("enrich")
        n_links = sum(allow_counts.values())
        n_robots_blocked = allow_counts.get(False, 0)
        cand = (
            enriched.filter(F.col("allowed"))
            .drop("allowed")
            .groupBy("url")
            .agg(
                F.first("host").alias("host"),
                F.min("depth").alias("depth"),
                F.first("priority").alias("priority"),
                F.first("budget").alias("budget"),
            )
        )
        cand = pin(
            seenset.with_shard(cand, "url", self.num_shards),
            snapshot=True,
            eager=False,
        )

        state = self._filter_state()
        # minimal-traffic probe: only (shard, hash) crosses into Python;
        # the maybe-set is tiny (true dups + cuckoo FPs) and AQE
        # broadcasts it in the splits below
        maybe_hashes = pin(
            seenset.probe_hashes(cand.select("shard", "hash"), state),
            snapshot=True,
            eager=False,
        )
        definitely_new = cand.join(
            maybe_hashes, ["shard", "hash"], "left_anti"
        )
        maybe = cand.join(maybe_hashes, ["shard", "hash"], "left_semi")
        # the seen table is hive-partitioned by shard at rest, so a
        # LITERAL isin over the shards the maybe-set touches prunes the
        # scan to those partition dirs — worth the two driver actions
        # (count + touched collect); the probe never reads the whole
        # 10^10-row seen set.
        n_maybe = maybe_hashes.count()
        mark("probe")
        truly_new = maybe  # empty when n_maybe == 0
        if n_maybe:
            touched = [
                r["shard"]
                for r in maybe_hashes.select("shard").distinct().collect()
            ]
            seen_probe = (
                self._get("seen")
                .filter(F.col("shard").isin(touched))
                .select("shard", "url")
            )
            truly_new = maybe.join(seen_probe, ["shard", "url"], "left_anti")
        # admitted feeds lineage, frontier, seen and filter: the lineage
        # action below materializes it once
        admitted = pin(
            definitely_new.unionByName(truly_new).withColumn(
                "discovered_step", F.lit(step + 1)
            ),
            snapshot=True,
            eager=False,
        )
        mark("admit_write")

        # per-partition lineage metrics (north_rule) — also yields totals
        shard_counts = {
            r["k"]: r["cnt"]
            for r in admitted.groupBy(F.col("shard").cast("string").alias("k"))
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        n_admitted = sum(shard_counts.values())
        mark("lineage")
        # maybe-seen rows that were NOT exactly seen are the filter's
        # false positives; the rest are true duplicates
        n_truly_new = n_admitted - (n_cand - n_maybe)

        metrics = {
            "step": step + 1,
            "fetched": n_batch,
            "links_extracted": n_links,
            "robots_blocked": n_robots_blocked,
            "candidates": n_cand,
            "maybe_seen": n_maybe,
            "cuckoo_false_positives": int(n_truly_new),
            "admitted": int(n_admitted),
            "admitted_per_shard": shard_counts,
            "duration_sec": None,  # filled below
        }

        # layout-dependent tables carry the current layout_epoch in every
        # version meta (truthful epoch bookkeeping for the migration
        # crash-recovery scan)
        lmeta = {"step": step + 1, "layout_epoch": self.layout_epoch}
        # an all-duplicates superstep (every discovered URL already seen)
        # legitimately admits ZERO rows — skip both appends: an empty
        # hive-partitioned write commits a parquet-less dir, and with
        # nothing admitted there are no dirty filter shards either.
        # Recovery is unaffected: the commit point is the frontier, and a
        # seen/filter meta step older than the committed step just means
        # those steps added nothing.
        if n_admitted > 0:
            self._put(
                "seen", admitted.select("url", "hash", "shard"), lmeta,
                partition_by=["shard"], append=True,
            )
            mark("seen_write")
            # append ONLY dirty shards (those that admitted rows), tagged
            # with the step and resolved latest-per-shard at read time
            # (_filter_state). A full-state rewrite would round-trip every
            # shard's bytes through Arrow and onto disk each superstep
            # (~32 GiB at the 10^10-URL sizing) even when one shard changed.
            dirty = seenset.insert(admitted, state, self.capacity)
            self._put(
                "filter", dirty.withColumn("step", F.lit(step + 1)), lmeta,
                append=True,
            )
        mark("filter_write")
        if self.index:
            # append this step's postings; the full merge is compaction's
            # job, not per-step work (the read side re-merges lazily)
            self._put(
                "postings", index_docs(docs), {"step": step + 1}, append=True
            )
        mark("index")

        # frontier' = frontier - batch + admitted. COMMIT POINT: the
        # frontier (carrying the step counter) goes last; everything
        # before it is revertible
        remaining = frontier.join(batch.select("url"), "url", "left_anti")
        new_frontier = remaining.unionByName(
            admitted.select(
                "url", "host", "depth", "priority", "budget", "discovered_step"
            )
        ).repartition(self.num_shards, "host")
        self._put("frontier", new_frontier, self._frontier_meta(metrics))
        mark("frontier_write")
        self._end_step()
        mark("checkpoint")
        metrics["phases"] = phases
        metrics["duration_sec"] = time.monotonic() - t0
        for df in (batch, enriched, cand, maybe_hashes, admitted):
            release(df)
        return metrics

    def run(self, n_steps: int) -> list[dict]:
        out = [self.run_step() for _ in range(n_steps)]
        self.flush()
        return out

    # -- views ---------------------------------------------------------
    # All views return DataFrames — at 10^10 URLs a collect() here would
    # OOM the driver. Tests that need Python sets collect through the
    # bounded helpers in tests/conftest.py.
    def fetched_df(self) -> DataFrame:
        """(fetch_step, url) for everything fetched so far — distributed
        view; aggregate/join it, don't collect it."""
        return self._get("docs").select(
            "fetch_step", F.col("doc_id").alias("url")
        )

    def postings(self) -> DataFrame:
        """Merged, de-bucketed view of the postings append chain (the
        stored table keeps per-term bucket shards; this view re-unifies
        them for probes/tests)."""
        merged = merge_postings(self._get("postings"))
        return merged.groupBy("field", "term").agg(
            F.sum("df").alias("df"),
            F.sort_array(F.flatten(F.collect_list("postings"))).alias(
                "postings"
            ),
        )

    def seen_df(self) -> DataFrame:
        """Distributed (url) view of the exact seen set."""
        return self._get("seen").select("url")
