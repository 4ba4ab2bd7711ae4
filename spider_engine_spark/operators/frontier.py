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


def canonicalize_col(c) -> "F.Column":
    """100% JVM form of webmodel.canonicalize — bit-identical (the
    replay-equality tests compare against the scalar Python version):
    strip, cut fragment, strip; default scheme http; lowercase
    scheme+netloc; drop :80; collapse empty path to '/'.

    Single-expression form, for ad-hoc column use. The crawl's hot path
    (enrich_candidates) evaluates the SAME formula as a ladder of
    narrow projections instead: Column expressions are trees, so this
    one-expression form re-evaluates shared subterms per reference and,
    combined into larger projections, can push generated methods past
    the JVM 64 KB codegen limit."""
    # Python str.strip() strips UNICODE whitespace; (?U) makes Java's \s
    # match the same class
    ws = r"(?U)^\s+|\s+$"
    u = F.regexp_replace(c, ws, "")
    u = F.regexp_replace(F.substring_index(u, "#", 1), ws, "")
    has = u.contains("://")
    # split at the FIRST '://' (substring_index(…, -1) would split at the
    # last — wrong for e.g. 'http://h/redirect?to=b://c')
    first = F.substring_index(u, "://", 1)
    scheme = F.when(has, F.lower(first)).otherwise(F.lit("http"))
    rest = F.when(has, u.substr(F.length(first) + 4, F.length(u))).otherwise(u)
    slash = F.instr(rest, "/")
    # \z = absolute end of input: '$' would also match before a final
    # line terminator (LF, CRLF, U+0085, U+2028), diverging from
    # Python's endswith(':80')
    netloc = F.regexp_replace(
        F.lower(
            F.when(
                slash > 0, F.substring(rest, F.lit(1), slash - 1)
            ).otherwise(rest)
        ),
        r":80\z",
        "",
    )
    path = F.when(slash > 0, rest.substr(slash, F.length(rest))).otherwise(
        F.lit("/")
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.concat(scheme, F.lit("://"), netloc, path)


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
    raw: DataFrame,
    cfg: wm.WebConfig = wm.DEFAULT,
    host_attrs: DataFrame | None = None,
) -> DataFrame:
    """raw(url_raw, depth) -> canonical candidates with host attributes.

    Canonicalization, host/path split, the robots prefix test AND the
    host attribute laws are pure JVM expressions (whole-stage codegen
    over the multi-billion-row outlink stream) — enrich contains ZERO
    Python. webmodel stays the single source of truth shared with the
    replay simulator (the md5-based attr law is bit-identical on both
    sides, see host_attr_cols).

    host_attrs: optional (host, priority, budget) table of already-
    computed attributes. Known hosts take their attrs from a broadcast
    join and only never-seen hosts evaluate the attr expressions. Off by
    default (CrawlJob(host_cache=True)): the synthetic attrs are pure
    JVM functions of the host string and recomputing them measures
    cheaper than the join machinery; the hook exists for attrs sourced
    from external state (fetched robots.txt rules).

    Plan shape: the canonicalizer runs as a LADDER of narrow
    projections (each intermediate — stripped input, scheme, rest,
    netloc, path — is computed ONCE into a column and the next rung
    references it as an attribute). Column expressions are trees, not
    DAGs: inlining canonicalize_col plus a host/path re-split into one
    projection duplicates the regexp chain dozens of times per row,
    blowing the generated processNext() past the JVM's 64 KB method
    limit (whole-stage codegen falls back to interpreted) and
    re-evaluating each regexp per reference. Catalyst's CollapseProject
    keeps the rungs separate (it refuses to inline non-cheap
    expressions referenced more than once), so the whole ladder still
    fuses into ONE whole-stage-codegen stage with each step evaluated
    exactly once. The canonical host/path fall out of the ladder's own
    netloc/path rungs — no re-split of the finished URL, so a path
    embedding '://' can never confuse the host."""
    ws = r"(?U)^\s+|\s+$"  # Java \s == Python str.strip under (?U)
    stripped = F.regexp_replace(F.col("url_raw"), ws, "")
    u = F.regexp_replace(F.substring_index(stripped, "#", 1), ws, "")
    s1 = raw.select(u.alias("_u"), "depth")
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
        r":80\z",  # \z not '$': see canonicalize_col
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

    def _with_attrs(df: DataFrame) -> DataFrame:
        priority, budget = host_attr_cols(cfg)
        return df.select(
            "url",
            "host",
            "depth",
            priority.alias("priority"),
            budget.alias("budget"),
            "allowed",
        )

    if host_attrs is None:
        return _with_attrs(tagged)
    known = F.broadcast(
        host_attrs.select("host", "priority", "budget")
    )
    hit = tagged.join(known, "host").select(
        "url", "host", "depth", "priority", "budget", "allowed"
    )
    miss = tagged.join(known, "host", "left_anti")
    return hit.unionByName(_with_attrs(miss))


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


class CrawlJob:
    """Distributed frontier crawl with a configurable checkpoint interval.

    checkpoint_every=1 (default): every superstep commits every state
    table as a TableIO snapshot — maximum durability, one parquet commit
    per table per step (the reference's flush-per-threshold analogue,
    table.go:503-508).

    checkpoint_every=N>1: state lives as cached DataFrames between
    snapshots and is committed every N supersteps (and on flush()). This
    is the standard iterative-Spark design (Pregel-style): at 1000
    executors you don't pay a distributed-FS commit per superstep; a
    crash replays at most N-1 steps from the last snapshot. Results are
    bit-identical in both modes (the replay tests run both).
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
        host_cache: bool = False,
    ):
        self.host_cache = host_cache
        self.compact_every = compact_every
        self.checkpoint_every = checkpoint_every
        self.spark = spark
        self.io = TableIO(root)
        self.salts = salts
        self.index = index
        self._mem: dict[str, DataFrame] = {}
        self._postings_pieces: list[DataFrame] = []
        self._retired: list[list[DataFrame]] = []
        self._frontier_meta: dict = {}
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
            self.num_shards, ns_known = self._restore_layout(
                meta, "num_shards", num_shards, 8
            )
            self.capacity, cap_known = self._restore_layout(
                meta, "capacity_per_shard", capacity_per_shard, 1 << 16
            )
            # stamp the layout into future commits only when it came from
            # the meta or an explicit argument — a guessed default on a
            # pre-layout-stamp root must not get blessed as the bootstrap
            # truth (it would make the later, historically-CORRECT
            # explicit resume raise the conflict error)
            self._stamp_layout = ns_known and cap_known
            # layout epoch: bumped by migrate_layout; tables written with
            # a HIGHER epoch than the committed frontier's are orphans of
            # a migration that never reached its commit point
            self.layout_epoch = int(meta.get("layout_epoch", 0))
            # orphan writes from a crashed superstep must be reverted
            # BEFORE the attr-law migration: _migrate_attr_law rewrites
            # hosts reusing the latest hosts meta — if that meta belongs
            # to an orphan append (step > frontier step), run_step's
            # revert pass would later roll hosts back BEHIND the
            # migration while the frontier meta already carries the new
            # law tag, permanently mixing old- and new-law attrs.
            self._revert_orphans()
            if meta.get("attr_law") != wm.ATTR_LAW:
                self._migrate_attr_law(meta)
        elif seeds is not None:
            self.cfg = cfg or wm.DEFAULT
            # at bootstrap the chosen values (explicit or default) DEFINE
            # the layout — always stamped
            self.num_shards = 8 if num_shards is None else int(num_shards)
            self.capacity = (
                1 << 16 if capacity_per_shard is None else int(capacity_per_shard)
            )
            self._stamp_layout = True
            self.layout_epoch = 0
            self._bootstrap(seeds)
        else:
            raise ValueError("new crawl root requires seeds")

    @staticmethod
    def _restore_layout(
        meta: dict, key: str, given: int | None, default: int
    ) -> tuple[int, bool]:
        """Resolve one layout parameter on resume.

        Returns (value, known): known=True when the value came from the
        stored meta or an explicit caller argument; False when it is the
        constructor default guessed for a pre-layout-stamp root (such a
        guess must never be stamped into the meta as bootstrap truth)."""
        stored = meta.get(key)
        if stored is None:
            # pre-layout-stamp root: trust the caller (legacy behavior)
            if given is None:
                return default, False
            return int(given), True
        if given is not None and int(given) != int(stored):
            raise ValueError(
                f"crawl root was bootstrapped with {key}={int(stored)}; "
                f"resuming with {key}={int(given)} would mis-shard the "
                "persisted seen-set (re-sharding requires a migration "
                "job) — omit the argument to resume with the stored layout"
            )
        return int(stored), True

    def _layout_meta(self) -> dict:
        """Meta fields every frontier commit carries, so ANY resume point
        (bootstrap or mid-crawl) restores the full layout + physics.

        Layout keys are included only when they are KNOWN (bootstrap
        choice, stored meta, or explicit resume argument) — a guessed
        default on a legacy root is not blessed."""
        out = {
            "web_config": self.cfg.__dict__,
            "attr_law": wm.ATTR_LAW,
            "layout_epoch": self.layout_epoch,
        }
        if self._stamp_layout:
            out["num_shards"] = self.num_shards
            out["capacity_per_shard"] = self.capacity
        return out

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
        disagree. The rebuild sorts each shard's hashes
        (sort_within_shard), making the migrated filter bytes a
        deterministic function of the URL set — WITHIN one code version:
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
        # resume first: runs orphan-revert + attr-law migration, and
        # resolves (or rejects) the stored layout
        job = cls(spark, root)
        new_shards = job.num_shards if num_shards is None else int(num_shards)
        new_cap = (
            job.capacity
            if capacity_per_shard is None
            else int(capacity_per_shard)
        )
        if (
            job._stamp_layout
            and (new_shards, new_cap) == (job.num_shards, job.capacity)
        ):
            return job  # layout already known and unchanged — no-op
        # a pre-layout-stamp legacy root ALWAYS rebuilds: the resumed
        # values are a guess, and the rebuild only needs (url, hash) —
        # migration is also the repair path that makes the layout known.
        # A capacity-only change on a stamped root keeps the stored shard
        # column and skips the seen rewrite entirely (only the filters
        # need rebuilding — rewriting 10^10 byte-identical seen rows
        # would be pure write amplification).
        reshard_seen = (not job._stamp_layout) or new_shards != job.num_shards
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
                sort_within_shard=True,
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
        for tbl in ("docs", "seen", "filter", "postings", "admitted", "hosts"):
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
    def _get(self, name: str) -> DataFrame:
        if name in self._mem:
            return self._mem[name]
        return self.io.read(self.spark, name)

    def _filter_state(self) -> DataFrame:
        """Current cuckoo state, one row per shard (STATE_SCHEMA).

        Memory mode holds the resolved state directly; the durable table
        is append-only dirty-shard rows tagged with `step`, resolved
        latest-per-shard here."""
        if "filter" in self._mem:
            return self._mem["filter"]
        df = self.io.read(self.spark, "filter")
        if "step" in df.columns:
            df = seenset.latest_state(df).drop("step")
        return df

    def _put(
        self,
        name: str,
        df: DataFrame,
        append: bool = False,
        checkpoint: bool = True,
    ) -> DataFrame:
        """Stage new state. Durable mode writes through immediately;
        memory mode caches (union-appending onto the previous state).

        checkpoint=False keeps a plain lazy plan — used for state that is
        only consumed at flush time (postings): its parents (docs) are
        already checkpointed, so lineage grows linearly, and skipping
        localCheckpoint avoids materializing the heavy tokenize stage
        inside the superstep."""
        if self.checkpoint_every == 1:
            self.io.write(name, df, mode="append" if append else "overwrite")
            return self.io.read(self.spark, name)
        if append:
            if name in self._mem:
                df = self._mem[name].unionByName(df)
            elif self.io.exists(name):
                df = self.io.read(self.spark, name).unionByName(df)
        old = self._mem.get(name)
        if checkpoint:
            # localCheckpoint truncates the logical plan (lineage would
            # grow multiplicatively across supersteps and blow up the
            # optimizer); lazy so the first consumer materializes it
            df = pin(df, snapshot=True, eager=False)
        self._mem[name] = df
        cached = df
        if old is not None:
            self._retired_current.append(old)
        return cached

    def _checkpoint(self) -> None:
        """Commit all in-memory state as TableIO snapshots.

        The frontier snapshot (the step-counter commit point) is written
        LAST, mirroring the durable path's frontier-last invariant: a
        crash mid-checkpoint leaves the frontier at the previous step and
        run_step's orphan-revert pass rolls the other tables back to it —
        never a frontier ahead of the seen state."""
        names = sorted(self._mem, key=lambda n: n == "frontier")
        for name in names:
            meta = self._frontier_meta if name == "frontier" else {
                "step": self.step_no
            }
            if name in ("seen", "filter"):
                meta = {**meta, "layout_epoch": self.layout_epoch}
            part = {"seen": ["shard"], "docs": ["fetch_step"]}.get(name)
            df = self._mem[name]
            if name == "filter":
                # durable filter rows carry the step tag (read resolver)
                df = df.withColumn("step", F.lit(self.step_no))
            self.io.write(
                name, df, mode="overwrite", meta=meta,
                partition_by=part,
            )
        # re-point memory at the durable snapshots so lineage is cut.
        # Nothing reads the in-memory state or the frames retired since
        # the last checkpoint any more: release them all. (Between
        # checkpoints a retired frame may still feed a lazy snapshot,
        # such as the docs union, that only this commit materializes.)
        for df in [*self._mem.values(), *self._postings_pieces]:
            release(df)
        self._release_retired(keep=0)
        self._mem.clear()
        self._postings_pieces.clear()

    def _release_retired(self, keep: int) -> None:
        while len(self._retired) > keep:
            for df in self._retired.pop(0):
                release(df)

    def flush(self) -> None:
        if self.checkpoint_every != 1:
            self._checkpoint()

    def _migrate_attr_law(self, frontier_meta: dict) -> None:
        """Re-derive persisted priority/budget after an attribute-law
        change (webmodel.ATTR_LAW differs from the root's stored tag).

        Frontier rows and the hosts cache STORE derived attrs; without
        this, a resumed pre-change root would mix two laws for the same
        host — inconsistent per-host budget cutoffs in select_fetch_batch
        and divergence from the (all-current-law) replay simulator. Attrs
        are pure functions of the host string, so migration is one
        projection per table. Hosts first, frontier LAST: the frontier's
        attr_law meta is the migration commit point, and re-deriving is a
        fixpoint, so a crash between the two writes just re-runs both."""
        prio, budget = host_attr_cols(self.cfg)
        if self.io.exists("hosts"):
            hmeta = dict(self.io.meta("hosts"))
            hosts = (
                self.io.read(self.spark, "hosts")
                .select("host", prio.alias("priority"), budget.alias("budget"))
                .distinct()
            )
            self.io.write("hosts", hosts, meta=hmeta)
        fr = self.io.read(self.spark, "frontier").select(
            "url",
            "host",
            "depth",
            prio.alias("priority"),
            budget.alias("budget"),
            "discovered_step",
        )
        self.io.write(
            "frontier", fr, meta={**frontier_meta, **self._layout_meta()}
        )

    # -- bootstrap ----------------------------------------------------
    def _bootstrap(self, seeds: list[str]) -> None:
        raw = self.spark.createDataFrame(
            [(u, 0) for u in seeds], "url_raw string, depth int"
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
        if self.host_cache:
            # host-attribute cache: deterministic (host, priority,
            # budget) rows; later supersteps broadcast-join it so known
            # hosts never re-enter Python (see enrich_candidates)
            self.io.write(
                "hosts",
                cand.select("host", "priority", "budget").distinct(),
                meta={"step": 0},
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
        self._retired_current: list[DataFrame] = []

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
            self._frontier_meta = {
                "step": step + 1,
                "metrics": metrics,
                **self._layout_meta(),
            }
            if self.checkpoint_every == 1:
                self.io.write("frontier", frontier, meta=self._frontier_meta)
            self.step_no += 1
            release(batch)
            return metrics

        # fetch: make_doc runs exactly once — durable mode commits the
        # snapshot then re-reads the parquet; memory mode caches
        if self.checkpoint_every == 1:
            # hive-partitioned by fetch_step: the per-superstep read below
            # (and any step-sliced replay read) prunes to ONE partition
            # dir instead of filtering a scan of the whole append chain —
            # same mechanism as `seen`'s shard pruning. Without it the
            # file listing + footer reads grow O(steps).
            self.io.write(
                "docs", fetch_docs(batch, step, self.cfg), mode="append",
                meta={"step": step + 1}, partition_by=["fetch_step"],
            )
            docs = self.io.read(spark, "docs").filter(
                F.col("fetch_step") == step
            )
        else:
            docs = pin(
                fetch_docs(batch, step, self.cfg), snapshot=True, eager=False
            )
            self._put("docs", docs, append=True)
            self._retired_current.append(docs)
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
        hosts_df = None
        if self.host_cache and ("hosts" in self._mem or self.io.exists("hosts")):
            hosts_df = self._get("hosts")
        enriched = pin(
            enrich_candidates(raw_links, self.cfg, host_attrs=hosts_df)
        )
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
        if self.host_cache:
            # grow the host-attr cache with this step's never-seen hosts
            # (disjoint from the table by construction -> append keeps
            # keys unique; a crash before the frontier commit is
            # reverted by the orphan pass above)
            if hosts_df is None:
                new_hosts = enriched.select(
                    "host", "priority", "budget"
                ).distinct()
            else:
                new_hosts = (
                    enriched.join(
                        F.broadcast(hosts_df.select("host")),
                        "host",
                        "left_anti",
                    )
                    .select("host", "priority", "budget")
                    .distinct()
                )
            if self.checkpoint_every == 1:
                self.io.write(
                    "hosts", new_hosts, mode="append", meta={"step": step + 1}
                )
            else:
                self._put("hosts", new_hosts, append=True)
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
        self._retired_current.append(cand)

        state = self._filter_state()
        # minimal-traffic probe: only (shard, hash) crosses into Python;
        # the maybe-set is tiny (true dups + cuckoo FPs) and AQE
        # broadcasts it in the splits below
        maybe_hashes = pin(
            seenset.probe_hashes(cand.select("shard", "hash"), state),
            snapshot=True,
            eager=False,
        )
        self._retired_current.append(maybe_hashes)
        definitely_new = cand.join(
            maybe_hashes, ["shard", "hash"], "left_anti"
        )
        maybe = cand.join(maybe_hashes, ["shard", "hash"], "left_semi")
        if self.checkpoint_every == 1:
            # durable mode: the seen table is hive-partitioned by shard
            # at rest, so a LITERAL isin over the shards the maybe-set
            # touches prunes the scan to those partition dirs — worth
            # the two driver actions (count + touched collect); the
            # probe never reads the whole 10^10-row seen set.
            n_maybe = maybe_hashes.count()
            mark("probe")
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
                truly_new = maybe.join(
                    seen_probe, ["shard", "url"], "left_anti"
                )
            else:
                truly_new = maybe  # empty by construction
        else:
            # memory mode: the seen state is a cached union — there are
            # no partition dirs to prune, so a broadcast semi-join on
            # the maybe-set's shards does the same pruning lazily and
            # the two probe-side driver actions disappear (n_maybe is
            # counted in the combined metrics action below; an empty
            # maybe-set makes both joins no-ops without knowing its
            # count up front).
            n_maybe = None
            mark("probe")
            seen_probe = (
                self._get("seen")
                .join(
                    F.broadcast(maybe_hashes.select("shard").distinct()),
                    "shard",
                    "left_semi",
                )
                .select("shard", "url")
            )
            truly_new = maybe.join(
                seen_probe, ["shard", "url"], "left_anti"
            )
        admitted = definitely_new.unionByName(truly_new).withColumn(
            "discovered_step", F.lit(step + 1)
        )
        # admitted is reused 4x (lineage, frontier, seen, filter): durable
        # mode parks it in parquet, memory mode caches it
        if self.checkpoint_every == 1:
            self.io.write("admitted", admitted, meta={"step": step + 1})
            admitted = self.io.read(spark, "admitted")
        else:
            admitted = pin(admitted, snapshot=True, eager=False)
            self._retired_current.append(admitted)
        mark("admit_write")

        # per-partition lineage metrics (north_rule) — also yields totals.
        # Memory mode folds the maybe-set count into the SAME action (a
        # sentinel row unioned onto the per-shard counts) instead of the
        # separate maybe_hashes.count() the durable path pays.
        _lineage = admitted.groupBy(
            F.col("shard").cast("string").alias("k")
        ).agg(F.count("*").alias("cnt"))
        if n_maybe is None:
            _lineage = _lineage.unionByName(
                maybe_hashes.select(F.lit("__maybe__").alias("k")).groupBy(
                    "k"
                ).agg(F.count("*").alias("cnt"))
            )
        _rows = {r["k"]: r["cnt"] for r in _lineage.collect()}
        if n_maybe is None:
            n_maybe = _rows.pop("__maybe__", 0)
        shard_counts = _rows
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
        self._frontier_meta = {
            "step": step + 1,
            "metrics": metrics,
            **self._layout_meta(),
        }

        # frontier' = frontier - batch + admitted
        remaining = frontier.join(batch.select("url"), "url", "left_anti")
        new_frontier = remaining.unionByName(
            admitted.select(
                "url", "host", "depth", "priority", "budget", "discovered_step"
            )
        ).repartition(self.num_shards, "host")

        if self.checkpoint_every == 1:
            # layout-dependent tables carry the current layout_epoch in
            # every version meta (truthful epoch bookkeeping for the
            # migration crash-recovery scan)
            lmeta = {"step": step + 1, "layout_epoch": self.layout_epoch}
            # an all-duplicates superstep (every discovered URL already
            # seen) legitimately admits ZERO rows — skip both appends:
            # an empty hive-partitioned write commits a parquet-less dir
            # (the hazard ivf_append guards against; TableIO.read now
            # also tolerates it), and with nothing admitted there are no
            # dirty filter shards either. Recovery is unaffected: the
            # commit point is the frontier snapshot, and a seen/filter
            # meta step older than the committed step just means those
            # steps added nothing.
            if n_admitted > 0:
                self.io.write(
                    "seen", admitted.select("url", "hash", "shard"),
                    mode="append", meta=lmeta,
                    partition_by=["shard"],
                )
                mark("seen_write")
                # write ONLY dirty shards (those that admitted rows):
                # the filter table is append-only with a step tag,
                # resolved latest-per-shard at read time
                # (seenset.latest_state). The former full-state rewrite
                # round-tripped every shard's bytes through Arrow and
                # onto disk each superstep (~32 GiB at the 10^10-URL
                # sizing) even when one shard changed.
                dirty = seenset.insert(
                    admitted, state, self.capacity, dirty_only=True
                )
                self.io.write(
                    "filter",
                    dirty.withColumn("step", F.lit(step + 1)),
                    mode="append",
                    meta=lmeta,
                )
            if (step + 1) % self.compact_every == 0:
                # fold ALL filter dirs (max_bytes=∞), not just undersized
                # ones: the filter's garbage is defined by SUPERSESSION
                # (older rows for a re-dirtied shard), not by dir size —
                # at the 10^10-URL sizing most shards are dirty every
                # step, so per-step dirs are large and a size criterion
                # would never fold them, growing the table O(steps).
                # Cost: one full-state write every compact_every steps
                # (amortized state/K per step — K× less write
                # amplification than the old per-step full rewrite) and
                # the latest-per-shard read fans over <= K dirs.
                self.io.compact_small(
                    spark, "filter", max_bytes=1 << 60,
                    meta=lmeta,
                    transform=seenset.latest_state,
                )
                # fold only the undersized seen snapshots (read-
                # amplification control); admitted sets are disjoint by
                # construction so a concat merge preserves distinctness,
                # and large already-compacted dirs are reused untouched
                # (the reference's pick-undersized-groups planner,
                # table.go:874-971)
                self.io.compact_small(
                    spark, "seen", max_bytes=64 << 20,
                    meta=lmeta, partition_by=["shard"],
                )
                if self.host_cache:
                    # hosts appends one tiny snapshot per step — fold
                    # them on the same cadence or the per-step
                    # broadcast-join read fans over O(steps) dirs
                    self.io.compact_small(
                        spark, "hosts", max_bytes=64 << 20,
                        meta={"step": step + 1},
                    )
            mark("filter_write")
        else:
            self._put("frontier", new_frontier)
            self._put(
                "seen", admitted.select("url", "hash", "shard"), append=True
            )
            self._put("filter", seenset.insert(admitted, state, self.capacity))
            mark("state_update")
        if self.index:
            # append this step's postings; full merge is a periodic
            # compaction, not per-step work (read side re-merges lazily)
            if self.checkpoint_every == 1:
                self.io.write(
                    "postings", index_docs(docs), mode="append",
                    meta={"step": step + 1},
                )
                if (step + 1) % self.compact_every == 0:
                    # incremental: re-group only the undersized postings
                    # snapshots; reads re-merge across dirs lazily anyway
                    self.io.compact_small(
                        spark, "postings", max_bytes=64 << 20,
                        meta={"step": step + 1, "compacted": True},
                        transform=merge_postings,
                    )
            else:
                # materialize this step's postings NOW (cache+count): the
                # tokenize graft is part of the superstep's work, and the
                # cached per-step pieces keep the union lineage flat
                step_postings = pin(index_docs(docs))
                step_postings.count()
                self._put(
                    "postings", step_postings, append=True, checkpoint=False
                )
                self._postings_pieces.append(step_postings)
        mark("index")
        if self.checkpoint_every == 1:
            # COMMIT POINT: the frontier snapshot (carrying the step
            # counter) goes last; everything before it is revertible
            self.io.write("frontier", new_frontier, meta=self._frontier_meta)
            mark("frontier_write")
        self.step_no += 1
        self._retired.append(self._retired_current)
        if self.checkpoint_every == 1:
            # retire superseded state lazily (one step late, so any
            # still-running lazy consumers read from cache, not recompute)
            self._release_retired(keep=2)
        elif self.step_no % self.checkpoint_every == 0:
            self._checkpoint()
            mark("checkpoint")
        metrics["phases"] = phases
        metrics["duration_sec"] = time.monotonic() - t0
        release(batch)
        release(enriched)
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
