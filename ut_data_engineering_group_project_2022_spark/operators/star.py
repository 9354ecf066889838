"""Star-schema loader (SURVEY M2; ref dags/pop_DWH.py:140-307,
dags/sql/DWH_tables.sql) — Kimball star with Type-1 SCD, re-expressed as
set-based DataFrame operations.

What the reference does row-by-row (iterrows SQL strings, correlated
subquery UPDATEs, per-author metric loops — the SURVEY §4.1 anti-pattern
list), this loader does with joins:

  * surrogate keys: dense `row_number() over natural-key order + max(existing)`
    (deterministic across retries, unlike monotonically_increasing_id;
    SURVEY §7.4);
  * J3 key lookups: broadcast left joins staging->dim on natural keys;
  * J4/J5 conflict-skip upserts: left_anti on the natural key before
    append (ON CONFLICT DO NOTHING without Delta);
  * J6 group-key propagation: fresh per-fact group keys joined back to
    the exploded author/affiliation rows via arxiv_ID;
  * sentinels: 'Unknown' strings / year 0 imputed exactly as the
    reference does (F6/F7; ref pop_DWH.py:62-65) — they are load-bearing
    for the BI queries;
  * A7/T4 incremental metrics: h/g-index recomputed ONLY for authors
    touched by the batch, as one windowed aggregation over the
    semi-joined fact slice, then Type-1 overwrite.

Scale notes: dims are small by construction (broadcast side); the only
fact-sized shuffles are the anti-join on arxiv_ID and the bridge
explode. The per-dim `max(key)` lookups are driver actions on
dim-sized aggregates (one row each) — micro-batch cadence, not per-row.
A distributed micro-batch costs a constant number of Spark jobs, and
every dim keeps at most ``defaultParallelism`` partitions however many
batches ran before it, so its tasks track the batch, not the batch
count. New bridge rows need no anti-join against the existing bridges:
their group keys are fresh (invariant in :func:`load_batch`).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, fields

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ut_data_engineering_group_project_2022_spark.functions.metrics import (
    hg_index_agg,
)
from ut_data_engineering_group_project_2022_spark.schemas import (
    BRIDGE_AFFILIATION_GROUP,
    BRIDGE_AUTHOR_GROUP,
    DIM_AFFILIATION,
    DIM_AUTHOR,
    DIM_DOMAIN,
    DIM_TYPE,
    DIM_VENUE,
    PAPER_FACT,
    UNKNOWN,
)


def _is_materialized(df: DataFrame) -> bool:
    """True when the frame is a ``localCheckpoint`` result, bare or under
    a chain of deterministic Project/Filter nodes (the tag-filter dims
    ``_upsert_all_dims`` and ``_star_local`` return) — re-checkpointing
    it would re-copy in-memory partitions that a column projection and a
    row filter over them already describe, with depth-1 lineage.

    EAGER-ONLY assumption: a LogicalRDD root is treated as already
    computed. ``localCheckpoint(eager=False)`` and
    ``createDataFrame(rdd, schema)`` also produce LogicalRDD roots
    WITHOUT eager computation, and this predicate cannot tell them
    apart plan-side — ``materialize()`` would pass such a frame through
    uncomputed. Every StarState frame that reaches here is built by
    this module via eager checkpoints (load_batch/empty_star), so the
    assumption holds by construction; do not feed lazy checkpoints or
    raw-RDD frames into StarState without eager-checkpointing first."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        while plan.getClass().getSimpleName() in ("Project", "Filter"):
            if not plan.deterministic():
                return False
            plan = plan.children().apply(0)
        return plan.getClass().getSimpleName() == "LogicalRDD"
    except Exception:  # non-classic backend: just checkpoint again
        return False


@dataclass
class StarState:
    """All star-schema tables as DataFrames (the engine's 'database')."""

    dim_year: DataFrame
    dim_domain: DataFrame
    dim_type: DataFrame
    dim_venue: DataFrame
    dim_author: DataFrame
    dim_affiliation: DataFrame
    paper_fact: DataFrame
    bridge_author_group: DataFrame
    bridge_affiliation_group: DataFrame

    def cache(self) -> "StarState":
        for f in fields(self):
            getattr(self, f.name).cache()
        return self

    def materialize(self) -> "StarState":
        """Commit the batch: eagerly compute every table and truncate its
        lineage (localCheckpoint). Without this, chaining `load_batch`
        calls grows the logical plan without bound (each state references
        the whole previous plan) — the iterative-lineage trap. A real
        deployment would `save()` to parquet instead; localCheckpoint is
        the in-memory equivalent for tests/micro-batches.

        The nine tables are independent at this point (anything shared
        upstream — dims, fact_new — is already checkpointed by
        load_batch), so the eager checkpoints run as concurrent jobs on
        the shared scheduler instead of nine serial driver syncs. At
        sf0.1 this is a wash (the largest frame dominates either way,
        measured r8); the win is cluster-shaped — concurrent jobs keep
        otherwise-idle executors busy.

        A table that is already a checkpoint result, bare or under
        Project/Filter nodes only (:func:`_is_materialized` — dim_year,
        and the five dims ``_upsert_all_dims`` returns as tag-filters
        over its one eager checkpoint), is passed through unchanged
        instead of burning a no-op Spark job per table per batch. Each
        batch therefore checkpoints only paper_fact, the two bridges and
        the metric-refreshed dim_author."""
        with ThreadPoolExecutor(max_workers=len(fields(self))) as pool:
            futs = {}
            done = {}
            for f in fields(self):
                df = getattr(self, f.name)
                if _is_materialized(df):
                    done[f.name] = df
                else:
                    futs[f.name] = pool.submit(df.localCheckpoint, True)
            done.update({name: fut.result() for name, fut in futs.items()})
            return StarState(**done)

    def save(self, path: str) -> None:
        """Persist all tables as parquet under `path` (the durable commit
        path for a real deployment; partition-friendly, re-readable)."""
        for f in fields(self):
            getattr(self, f.name).write.mode("overwrite").parquet(
                f"{path}/{f.name}"
            )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "StarState":
        return StarState(
            **{
                f.name: spark.read.parquet(f"{path}/{f.name}")
                for f in fields(StarState)
            }
        )


def empty_star(spark: SparkSession) -> StarState:
    """DDL bootstrap (SURVEY S10; ref tables.py:18-32): empty tables plus
    the pre-populated year dimension 1940-2030 + sentinel 0
    (ref DWH_tables.sql:87-88; the README's 1980 is wrong, code wins)."""
    dim_year = spark.range(1940, 2031).select(
        F.col("id").cast("int").alias("year_key"),
        F.col("id").cast("int").alias("publication_year"),
    )
    # JVM-native 1-row sentinel, NOT createDataFrame([(0, 0)]): the
    # local-list form parallelizes into defaultParallelism Python-pickled
    # partitions, and every later evaluation of dim_year pays one Python
    # worker roundtrip PER partition to deserialize them — measured r19
    # at ~0.5 s per scan (and ~5 s under coalesce(1), where the 32
    # roundtrips serialize into one task).
    sentinel = spark.range(1).select(
        F.lit(0).cast("int").alias("year_key"),
        F.lit(0).cast("int").alias("publication_year"),
    )

    # ONE shared 0-partition RDD for all eight empties (r20): emptyRDD()
    # is a py4j round trip, and the eight empties are schema-only — the
    # RDD is identical.
    erdd = spark.sparkContext.emptyRDD()

    def empty(schema):
        # NOT createDataFrame([], schema): that parallelizes the empty
        # list into defaultParallelism EMPTY partitions, so every scan
        # of a first-batch dim schedules 32 no-op tasks — measured r9 at
        # ~2.8 s per anti-join against one (vs 0.37 s against a
        # 0-partition empty). emptyRDD carries zero partitions.
        return spark.createDataFrame(erdd, schema)

    return StarState(
        dim_year=dim_year.unionByName(sentinel),
        dim_domain=empty(DIM_DOMAIN),
        dim_type=empty(DIM_TYPE),
        dim_venue=empty(DIM_VENUE),
        dim_author=empty(DIM_AUTHOR),
        dim_affiliation=empty(DIM_AFFILIATION),
        paper_fact=empty(PAPER_FACT),
        bridge_author_group=empty(BRIDGE_AUTHOR_GROUP),
        bridge_affiliation_group=empty(BRIDGE_AFFILIATION_GROUP),
    )


def impute_sentinels(staging_main: DataFrame) -> DataFrame:
    """F6/F7 (ref pop_DWH.py:60-65): missing strings -> 'Unknown',
    missing year -> sentinel 0, missing citation count -> 0."""
    out = staging_main.na.fill(
        {
            "subject": UNKNOWN,
            "type": UNKNOWN,
            "container-title": UNKNOWN,
            "publisher": UNKNOWN,
            "doi": UNKNOWN,
        }
    )
    return out.withColumn(
        "published-year", F.coalesce(F.col("published-year"), F.lit(0))
    ).withColumn(
        "is-referenced-by-count",
        F.coalesce(F.col("is-referenced-by-count"), F.lit(0)),
    )


def impute_author_sentinels(staging_authors: DataFrame) -> DataFrame:
    return staging_authors.na.fill(
        {"affiliation": UNKNOWN, "gender": "unknown", "full_name": UNKNOWN}
    )


def _key_start(dim: DataFrame, key_col: str, out: str) -> DataFrame:
    """1-row frame carrying max(existing surrogate key), 0 when empty —
    broadcast-crossJoined into the insert plan so key continuation costs
    no driver round-trip (r8: the `.first()`-per-dim form was 7 driver
    syncs per load_batch; plan-side, the tiny aggregate rides the same
    job as the insert it feeds)."""
    return dim.agg(F.coalesce(F.max(key_col), F.lit(0)).alias(out))


def _partition_offsets(local: DataFrame, local_rank_col: str) -> DataFrame:
    """``(__pid, __off)``: number of rank groups in all earlier range
    partitions, read off as ``max(local_rank)`` per partition and
    cumulated with a running-sum window — entirely plan-side (no driver
    collect / createDataFrame roundtrip; the r5 verdict's two-job cut).
    The window is global but its input is the ≤numPartitions-row
    per-partition aggregate, bounded by cluster parallelism, never by
    data volume — the plan audit recognizes this frame structurally
    (Aggregate grouped by __pid below the window)."""
    return (
        local.groupBy("__pid")
        .agg(F.max(local_rank_col).alias("__c"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__c").over(
                    W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("__c")
    )


def dense_ids(
    df: DataFrame,
    order_cols: list[str],
    colname: str = "_seq",
    eager: bool = True,
) -> DataFrame:
    """Global dense 1-based rank over ``order_cols`` WITHOUT a
    single-partition window (the round-1 scale-killer in the fact loader).

    Two-phase: range-repartition on the keys (partition i holds smaller
    keys than partition i+1), rank locally per partition, then add
    per-partition row-count offsets (``max(row_number)`` per partition
    == its row count), cumulated plan-side over the numPartitions-row
    aggregate. The sampled range boundaries do not affect the result
    (any boundary split yields the same global order for unique keys),
    so the assigned ids are deterministic.

    ``eager`` checkpoints the ranked partitions so the offset aggregate
    and the final join don't recompute the input twice; pass False in
    plan tests to inspect the full (un-truncated) physical plan.

    Measured (r11): skipping the input checkpoint when the input is a
    cheap filter/aggregate over already-checkpointed frames does NOT
    pay — the range sampler and the exchange then each re-evaluate the
    input plan, and two plan evaluations (codegen included) cost at
    least as much as the one eager checkpoint job they replace, warm
    (3.30 vs 3.21 s/batch) and cold (8.7 vs 8.3 s star load) alike.
    Both checkpoints stay unconditional under ``eager``.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if eager:
        # One evaluation of the input instead of two: the range
        # partitioner's boundary sampling and the exchange both run the
        # input plan otherwise (same fix as global_dense_rank).
        df = df.localCheckpoint(eager=True)
    local = df.repartitionByRange(n, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    local = local.withColumn(
        "__lrn",
        F.row_number().over(W.partitionBy("__pid").orderBy(*order_cols)),
    )
    if eager:
        local = local.localCheckpoint(eager=True)
    return (
        local.join(F.broadcast(_partition_offsets(local, "__lrn")), "__pid")
        .withColumn(colname, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__pid", "__lrn", "__off")
    )


#: Rank-input ceiling under which :func:`global_dense_rank` runs the
#: rank as one single-partition window over its (already checkpointed)
#: input instead of the two-phase range-partition + offsets form. The
#: input is group-grain by contract (callers collapse to one row per
#: key first), so a million-row sort in one task is ~100 ms; above the
#: gate the two-phase scale form runs unchanged.
LOCAL_RANK_ROWS = 1_000_000


def global_dense_rank(
    df: DataFrame,
    order_col: str,
    colname: str = "rnk",
    descending: bool = True,
) -> DataFrame:
    """Global DENSE_RANK over ``order_col`` WITHOUT a single-partition
    window — the scale path for W1 ranks at fact grain (the customer-
    grain bi_rank_* queries were the registry's last unpartitioned
    WindowExec at 100x; rounds 3-4 verdicts flagged them).

    Same two-phase trick as :func:`dense_ids`: range-partition on the
    key so equal keys colocate (partition i holds strictly better keys
    than partition i+1), DENSE_RANK locally per partition, then add the
    number of distinct keys in all earlier partitions — read off as
    ``max(__lrnk)`` per partition from the already-ranked frame
    (unlike ``countDistinct(order_col)`` this counts a NULL key group,
    so NULL keys rank correctly in either direction) and cumulated
    plan-side (:func:`_partition_offsets`; no driver collect). Sampled
    range boundaries cannot change the result (equal keys always land
    in the same partition), so the ranks are deterministic.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    key = F.col(order_col).desc() if descending else F.col(order_col).asc()
    # Materialize the input before range-partitioning: the range
    # partitioner's boundary-sampling pass and the exchange itself would
    # otherwise each evaluate the (typically aggregate-shaped) input plan.
    df = df.localCheckpoint(eager=True)
    # Size-gated single-window rank (r19, guide §1.2): the rank input is
    # group-grain (one row per key after the caller's collapse), and the
    # count job reads the in-memory checkpoint just taken. At or below
    # LOCAL_RANK_ROWS one single-partition window over the checkpoint is
    # strictly cheaper than the two-phase form's second checkpoint +
    # range-sampler job + offsets join (measured r19: the four benched
    # bi_rank_* rows ran 13-17 Spark jobs, mostly this machinery, on
    # 1k-20k-row rank inputs). Above the gate the two-phase form runs
    # unchanged — the 100x/100 TB shape the rounds-3/4 audit mandated.
    if df.count() <= LOCAL_RANK_ROWS:
        return df.withColumn(colname, F.dense_rank().over(W.orderBy(key)))
    local = (
        df.repartitionByRange(n, key)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lrnk",
            F.dense_rank().over(W.partitionBy("__pid").orderBy(key)),
        )
        .localCheckpoint(eager=True)
    )
    return (
        local.join(F.broadcast(_partition_offsets(local, "__lrnk")), "__pid")
        .withColumn(colname, (F.col("__lrnk") + F.col("__off")).cast("int"))
        .drop("__pid", "__lrnk", "__off")
    )


def upsert_dim(
    dim: DataFrame,
    values: DataFrame,
    natural_cols: list[str],
    key_col: str,
    carry_cols: tuple[str, ...] = (),
    extra_defaults: dict[str, object] | None = None,
) -> DataFrame:
    """D3 + J4/J5: DISTINCT new naturals, anti-join against the dim,
    assign dense surrogate keys continuing from max(existing).

    `carry_cols` ride along with the natural key (e.g. author gender);
    when one natural key arrives with several carry variants the first
    in sort order wins (reference: ON CONFLICT DO NOTHING keeps
    first-seen, ref pop_DWH.py:190-193).

    CALLER CONTRACT (r8 advisory): the returned frame references `dim`
    lazily in three places (anti-join, key-start aggregate, union) —
    checkpoint/materialize it ONCE before reusing it, as every internal
    caller does (`load_batch`'s per-dim ckpt). Evaluating it repeatedly
    over a non-deterministic or mutating `dim` source could observe
    inconsistent surrogate keys.
    """
    fresh = values.select(*natural_cols, *carry_cols).distinct()
    if carry_cols:
        w = W.partitionBy(*natural_cols).orderBy(*carry_cols)
        fresh = (
            fresh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    fresh = fresh.join(dim, natural_cols, "left_anti")
    keyed = (
        fresh.crossJoin(F.broadcast(_key_start(dim, key_col, "__start")))
        .withColumn(
            key_col,
            (F.row_number().over(W.orderBy(*natural_cols)) + F.col("__start"))
            .cast("int"),
        )
        .drop("__start")
    )
    for col, default in (extra_defaults or {}).items():
        keyed = keyed.withColumn(col, F.lit(default))
    return dim.unionByName(keyed.select(dim.columns))


def _upsert_all_dims(
    state: StarState, main: DataFrame, authors: DataFrame
) -> dict[str, DataFrame]:
    """All five batch-dim upserts as ONE tagged logical plan — a small
    constant number of Spark jobs per batch (the final full-content
    checkpoint plus dense_ids' two internal checkpoints), never
    one-per-dim.

    Semantically five :func:`upsert_dim` calls (DISTINCT new naturals ->
    carry first-wins -> anti-join on the natural key -> dense surrogate
    keys continuing from max(existing); ref pop_DWH.py:157-212), but on
    one tagged union:

      * candidate dedup + carry first-wins is ONE aggregate
        (``min(carry)`` per natural key — "first in sort order wins" IS
        the min — instead of upsert_dim's DISTINCT + row_number window);
      * the anti-join and the per-tag key starts (``max(existing key)``,
        one grouped aggregate, left-joined so tags with empty dims fall
        back to 0) both read one tagged projection of the existing dims;
      * the job's checkpointed output is the FULL new dim content —
        existing ∪ fresh — so each returned dim is a pure
        filter-on-tag over one in-memory frame. Re-evaluation is
        deterministic and trivially cheap (no joins/windows remain in
        the plan), dim lineage stays depth-1 across incremental
        batches by construction, and ``materialize`` passes the
        returned dims through without another checkpoint;
      * the union is coalesced to ``defaultParallelism`` before the
        checkpoint. It reads the five dims — each a filter over the
        previous batch's n-partition checkpoint — plus the fresh rows,
        i.e. 5n + 1 partitions; uncoalesced, that compounds per batch
        (1, 6, 31, 156, ...) and every dim scan's task count with it.

    The r8 form ran the five upserts as concurrent jobs; at sf0.1 they
    serialized on driver planning/codegen and took ~4 s wall for ~1 s of
    real work (measured r9). One plan is also the right shape at 100 TB:
    the dominant cost there is the fact-sized scan of
    ``main``/``authors``, paid once here instead of five times, and key
    assignment is :func:`dense_ids` over (tag, k1, k2) — range-
    partitioned local ranks + offsets, NO batch-sized window partition
    anywhere (r10; the r9 per-tag row_number window single-partition-
    sorted ~1M fresh author rows at the 100x bulk load).

    Unused key/carry slots are ``''`` — never NULL, staging is imputed
    before this point — so joins and aggregates need no null-safe forms.
    """
    e = F.lit("")
    ni = F.lit(None).cast("int")

    # tag -> (existing dim, surrogate key col, dim natural cols (k1[, k2]))
    spec = {
        "domain": (state.dim_domain, "domain_key", ("scientific_domain",)),
        "type": (state.dim_type, "type_key", ("publication_type",)),
        "venue": (state.dim_venue, "venue_key", ("pub_venue", "publisher")),
        "author": (state.dim_author, "author_key", ("full_name",)),
        "affiliation": (
            state.dim_affiliation,
            "affiliation_key",
            ("affiliation_name",),
        ),
    }

    def tagged_cand(df, tag, k1, k2=None, carry=None):
        # coalesce makes the min(__carry) fold total even if a NULL
        # carry ever slips past the imputed-staging contract (r9
        # ADVICE): min() would drop NULLs where upsert_dim's
        # row_number orders them first. The equivalence is conditional
        # (r10 ADVICE): if ALL of a key's carries are NULL both forms
        # agree ('' here, NULL→'' downstream never happens since ''
        # is already the slot filler); but if a NULL carry MIXED with
        # non-NULL carries for one key, upsert_dim's NULLS-FIRST
        # row_number would emit NULL where this path emits the min
        # non-''-or-'' value. load_batch's imputed staging (na.fill
        # upstream) makes the mixed case unreachable on the shipped
        # path; only direct callers bypassing impute_* could hit it.
        return df.select(
            F.lit(tag).alias("__tag"),
            F.col(k1).alias("__k1"),
            (F.col(k2) if k2 else e).alias("__k2"),
            (F.coalesce(F.col(carry), e) if carry else e).alias("__carry"),
        )

    def tagged_dim(tag):
        dim, key_col, naturals = spec[tag]
        return dim.select(
            F.lit(tag).alias("__tag"),
            F.col(naturals[0]).alias("__k1"),
            (F.col(naturals[1]) if len(naturals) > 1 else e).alias("__k2"),
            (F.col("gender") if tag == "author" else e).alias("__carry"),
            F.col(key_col).cast("int").alias("__key"),
            (F.col("h_index").cast("int") if tag == "author" else ni).alias("__h"),
            (F.col("g_index").cast("int") if tag == "author" else ni).alias("__g"),
        )

    existing = None
    for tag in spec:
        t = tagged_dim(tag)
        existing = t if existing is None else existing.unionByName(t)
    cands = (
        tagged_cand(main, "domain", "subject")
        .unionByName(tagged_cand(main, "type", "type"))
        .unionByName(tagged_cand(main, "venue", "container-title", k2="publisher"))
        .unionByName(tagged_cand(authors, "author", "full_name", carry="gender"))
        .unionByName(tagged_cand(authors, "affiliation", "affiliation"))
        .groupBy("__tag", "__k1", "__k2")
        .agg(F.min("__carry").alias("__carry"))
    )
    starts = existing.groupBy("__tag").agg(F.max("__key").alias("__start"))
    fresh = cands.join(
        existing.select("__tag", "__k1", "__k2"),
        ["__tag", "__k1", "__k2"],
        "left_anti",
    )
    # Per-tag dense keys via dense_ids, NOT a per-tag row_number window
    # (r10: the r9 form's partitionBy(__tag) put each tag's ENTIRE fresh
    # set through one window partition — dim-batch-sized and fine for
    # incremental loads, but the recorded 100x bulk load sorted ~1M
    # fresh author rows in a single partition). dense_ids range-
    # partitions on (__tag, __k1, __k2); with __tag leading, each tag's
    # rows are contiguous in the global sequence, so
    #   rank-within-tag = __seq - min(__seq) per tag + 1
    # reproduces row_number().over(partitionBy(__tag).orderBy(__k1,
    # __k2)) exactly (keys are unique post-aggregate — dense global
    # sequence, no ties). __base/__start are 5-row broadcast aggregates.
    # r11 A/B verdict (same-minute interleaved, quiet host, this exact
    # quantity as bench star_load): r9 window-form 7.36/7.56/8.11 s cold,
    # this dense_ids form 8.10/8.50/9.00 s cold, 2.92 vs 3.21 s/batch
    # warm — the BENCH_r10 11.1→14.4 s "regression" was ~0.8 s of real
    # dense_ids fixed cost (the 2 eager checkpoints) plus host noise.
    # Thinning (skipping the input checkpoint: 8.66/8.66/8.81 cold) does
    # not pay. The ~0.8 s/cold-load is accepted as the price of no
    # batch-sized window partition at the 100x bulk load; the ≤10 s
    # quiet-host target holds for this form.
    fresh = dense_ids(fresh, ["__tag", "__k1", "__k2"], "__seq")
    tag_base = fresh.groupBy("__tag").agg(F.min("__seq").alias("__base"))
    fresh = (
        fresh.join(F.broadcast(tag_base), "__tag")
        .join(F.broadcast(starts), "__tag", "left")
        .withColumn(
            "__key",
            (
                F.col("__seq") - F.col("__base") + F.lit(1)
                + F.coalesce("__start", F.lit(0))
            ).cast("int"),
        )
        .select("__tag", "__k1", "__k2", "__carry", "__key", ni.alias("__h"),
                ni.alias("__g"))
    )
    full = (
        existing.unionByName(fresh)
        .coalesce(main.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    out = {}
    for tag, (dim, key_col, naturals) in spec.items():
        rows = full.filter(F.col("__tag") == tag)
        sel = [F.col("__key").alias(key_col), F.col("__k1").alias(naturals[0])]
        if len(naturals) > 1:
            sel.append(F.col("__k2").alias(naturals[1]))
        if tag == "author":
            sel += [
                F.col("__carry").alias("gender"),
                F.col("__h").alias("h_index"),
                F.col("__g").alias("g_index"),
            ]
        out[tag] = rows.select(*sel).select(*dim.columns)
    return out


# Size gate for the first-batch single-task loader kernel (r19, guide
# §1.2/§4.2): combined staging rows at or below this run the whole load
# as ONE executor task. 200k rows keeps the worst-case kernel under ~1 s
# single-threaded; the 100x bulk-load scenario (1.5M combined rows) and
# anything larger take the distributed plan unchanged.
LOCAL_STAR_ROWS = 200_000

_BATCH_TABLES = (
    "dim_domain",
    "dim_type",
    "dim_venue",
    "dim_author",
    "dim_affiliation",
    "paper_fact",
    "bridge_author_group",
    "bridge_affiliation_group",
)


def _bootstrap_only(state: StarState) -> bool:
    """True when every batch-loaded table is plan-visibly empty — the
    first-batch shape. ``empty_star`` builds them from a 0-partition
    ``emptyRDD``, so the check is plan-side (no job). Any other state
    (materialized, incrementally loaded, hand-built) reads non-zero or
    raises and falls through to the distributed loader — a missed
    optimization at worst, never a wrong result."""
    try:
        return all(
            getattr(state, name).rdd.getNumPartitions() == 0
            for name in _BATCH_TABLES
        )
    except Exception:  # noqa: BLE001 — non-classic backend etc.
        return False


def _cast_int_like_spark(s: str | None) -> int | None:
    """Spark's non-ANSI CAST(string AS INT): trim, parse as a decimal
    number, truncate toward zero; anything unparsable or out of int32
    range is NULL."""
    if s is None:
        return None
    from decimal import Decimal, InvalidOperation

    try:
        v = int(Decimal(s.strip()))
    except (InvalidOperation, ValueError, ArithmeticError):
        return None
    return v if -(2**31) <= v <= 2**31 - 1 else None


def _star_local_tables(y_rows, m_rows, a_rows):
    """Pure-python first-batch star load over row lists — the in-memory
    twin of ``load_batch``'s distributed plan for an empty (bootstrap)
    warehouse. Exactness is structural: every step is set/sort/integer
    arithmetic over imputed (non-null) naturals, and python's code-point
    string order equals Spark's UTF8 binary order, so the dense
    surrogate keys, first-wins carries, group keys and h/g metrics
    reproduce the distributed results bit-for-bit (pinned by
    tests/test_local_kernels.py and the 15 star/bi DuckDB oracles).

    ``y_rows``: (year_key, publication_year) from the existing dim_year;
    ``m_rows``: (published-year, is-referenced-by-count, id, subject,
    type, container-title, publisher, doi, title, versions) — imputed;
    ``a_rows``: (id, full_name, affiliation, gender) — imputed.

    Duplicate ``id`` values within one batch get distinct group keys in
    input order (the distributed form's tie order is sampler-dependent
    there — same contract, documented).
    """
    # -- dims: distinct naturals, first-wins carry, sorted dense keys --
    dkey = {v: i + 1 for i, v in enumerate(sorted({m[3] for m in m_rows}))}
    tkey = {v: i + 1 for i, v in enumerate(sorted({m[4] for m in m_rows}))}
    vkey = {
        v: i + 1
        for i, v in enumerate(sorted({(m[5], m[6]) for m in m_rows}))
    }
    carry: dict[str, str] = {}
    for a in a_rows:
        fn, g = a[1], a[3]
        if fn not in carry or g < carry[fn]:
            carry[fn] = g
    akey = {v: i + 1 for i, v in enumerate(sorted(carry))}
    fkey = {v: i + 1 for i, v in enumerate(sorted({a[2] for a in a_rows}))}
    ymap: dict[int, int] = {}
    for yk, py in y_rows:
        ymap.setdefault(py, yk)

    # -- fact: dense group keys in id order (J3 lookups always hit the
    # just-upserted dims; year lookup may miss -> NULL year_key) --------
    facts = []
    for seq, m in enumerate(sorted(m_rows, key=lambda m: m[2]), start=1):
        versions = m[9]
        lvn = _cast_int_like_spark(
            versions[1:] if versions is not None and versions.startswith("v")
            else versions
        )
        facts.append(
            (
                ymap.get(m[0]),
                dkey[m[3]],
                tkey[m[4]],
                vkey[(m[5], m[6])],
                seq,
                seq,
                m[2],
                m[7],
                m[8],
                lvn,
                m[1],
            )
        )

    # -- bridges: authors x new facts on id, dim lookups, DISTINCT -----
    groups_by_id: dict[str, list[tuple[int, int]]] = {}
    for f in facts:
        groups_by_id.setdefault(f[6], []).append((f[4], f[5]))
    pa_pairs: set[tuple[int, int]] = set()
    pf_pairs: set[tuple[int, int]] = set()
    for a in a_rows:
        for agk, fgk in groups_by_id.get(a[0], ()):
            pa_pairs.add((agk, akey[a[1]]))
            pf_pairs.add((fgk, fkey[a[2]]))

    # -- metrics: h/g over each author's DISTINCT bridge pairs ---------
    fact_cc = {f[4]: f[10] for f in facts}
    cites: dict[int, list[int]] = {}
    for agk, ak in pa_pairs:
        cites.setdefault(ak, []).append(fact_cc[agk])
    dim_author = []
    for fn in sorted(carry):
        ak = akey[fn]
        h = g = None
        if ak in cites:
            cs = sorted(cites[ak], reverse=True)
            h = max((i + 1 for i, c in enumerate(cs) if c >= i + 1), default=0)
            nz = [c for c in cs if c > 0]
            if nz:
                g, cum = 0, 0
                for i, c in enumerate(nz):
                    cum += c
                    if cum >= (i + 1) ** 2:
                        g = i + 1
        dim_author.append((ak, fn, carry[fn], h, g))

    return {
        "dim_year": list(y_rows),
        "dim_domain": [(k, v) for v, k in dkey.items()],
        "dim_type": [(k, v) for v, k in tkey.items()],
        "dim_venue": [(k, v[0], v[1]) for v, k in vkey.items()],
        "dim_author": dim_author,
        "dim_affiliation": [(k, v) for v, k in fkey.items()],
        "paper_fact": facts,
        "bridge_author_group": sorted(pa_pairs),
        "bridge_affiliation_group": sorted(pf_pairs),
    }


_STAR_OUT_SCHEMA = (
    "tbl string, i1 int, i2 int, i3 int, i4 int, i5 int, i6 int, i7 int, "
    "i8 int, s1 string, s2 string, s3 string"
)

# table -> [(superset column, table column)] — the packing map shared by
# the kernel (writer) and the slice selects (reader).
_STAR_SLICES = {
    "dim_year": [("i1", "year_key"), ("i2", "publication_year")],
    "dim_domain": [("i1", "domain_key"), ("s1", "scientific_domain")],
    "dim_type": [("i1", "type_key"), ("s1", "publication_type")],
    "dim_venue": [("i1", "venue_key"), ("s1", "pub_venue"), ("s2", "publisher")],
    "dim_author": [
        ("i1", "author_key"),
        ("s1", "full_name"),
        ("s2", "gender"),
        ("i2", "h_index"),
        ("i3", "g_index"),
    ],
    "dim_affiliation": [("i1", "affiliation_key"), ("s1", "affiliation_name")],
    "paper_fact": [
        ("i1", "year_key"),
        ("i2", "domain_key"),
        ("i3", "type_key"),
        ("i4", "venue_key"),
        ("i5", "author_group_key"),
        ("i6", "affiliation_group_key"),
        ("s1", "arxiv_ID"),
        ("s2", "doi"),
        ("s3", "title"),
        ("i7", "latest_version_nr"),
        ("i8", "citation_count"),
    ],
    "bridge_author_group": [("i1", "author_group_key"), ("i2", "author_key")],
    "bridge_affiliation_group": [
        ("i1", "affiliation_group_key"),
        ("i2", "affiliation_key"),
    ],
}


def _star_kernel(batches):
    """mapInArrow kernel: consume the tagged (dim_year + imputed staging)
    union, run :func:`_star_local_tables`, emit all nine tables as one
    tagged superset batch."""
    import pyarrow as pa

    tabs = [pa.Table.from_batches([b]) for b in batches]
    icols = [f"i{k}" for k in range(1, 9)]
    scols = [f"s{k}" for k in range(1, 4)]
    if tabs:
        t = pa.concat_tables(tabs)
        tags = t.column("tag").to_pylist()
        i1 = t.column("i1").to_pylist()
        i2 = t.column("i2").to_pylist()
        ss = [t.column(f"s{k}").to_pylist() for k in range(1, 9)]
        y_rows, m_rows, a_rows = [], [], []
        for r, tag in enumerate(tags):
            if tag == "y":
                y_rows.append((i1[r], i2[r]))
            elif tag == "m":
                m_rows.append(
                    (
                        i1[r],
                        i2[r],
                        ss[0][r],
                        ss[1][r],
                        ss[2][r],
                        ss[3][r],
                        ss[4][r],
                        ss[5][r],
                        ss[6][r],
                        ss[7][r],
                    )
                )
            else:
                a_rows.append((ss[0][r], ss[1][r], ss[2][r], ss[3][r]))
        tables = _star_local_tables(y_rows, m_rows, a_rows)
    else:  # pragma: no cover — the union always carries dim_year rows
        tables = {name: [] for name in _STAR_SLICES}
    out: dict[str, list] = {c: [] for c in ["tbl", *icols, *scols]}
    for name, slots in _STAR_SLICES.items():
        for row in tables[name]:
            out["tbl"].append(name)
            filled = {slot: row[i] for i, (slot, _) in enumerate(slots)}
            for c in icols + scols:
                out[c].append(filled.get(c))
    yield pa.RecordBatch.from_arrays(
        [pa.array(out["tbl"], pa.string())]
        + [pa.array(out[c], pa.int32()) for c in icols]
        + [pa.array(out[c], pa.string()) for c in scols],
        names=["tbl", *icols, *scols],
    )


def _star_local(
    state: StarState, staging_main: DataFrame, staging_authors: DataFrame
) -> StarState:
    """Single-task execution of the ENTIRE first-batch star load for a
    staging batch known to fit one executor (``<= LOCAL_STAR_ROWS``
    combined rows, empty bootstrap warehouse — gated by
    :func:`load_batch`). One Spark job computes dims, fact, bridges and
    the h/g metric refresh in memory, replacing the ~18-checkpoint
    distributed batch whose cost at this size is pure job-dispatch
    latency (measured r19: 32 driver jobs, 9.0-12.1 s at sf0.1 on
    ordinary weather for <1 s of real work; guide §1.2). Above the gate
    (or on any non-bootstrap state) the distributed loader runs
    unchanged — the 100 TB path is untouched.

    The returned tables are tag-filters over ONE eagerly checkpointed
    superset frame: depth-1 lineage, deterministic, trivially cheap to
    re-evaluate — the same contract ``materialize()`` provides."""
    e = F.lit(None).cast("string")
    ni = F.lit(None).cast("int")
    main = impute_sentinels(staging_main)
    authors = impute_author_sentinels(staging_authors)
    y = state.dim_year.select(
        F.lit("y").alias("tag"),
        F.col("year_key").cast("int").alias("i1"),
        F.col("publication_year").cast("int").alias("i2"),
        *[e.alias(f"s{k}") for k in range(1, 9)],
    )
    m = main.select(
        F.lit("m").alias("tag"),
        F.col("published-year").cast("int").alias("i1"),
        F.col("is-referenced-by-count").cast("int").alias("i2"),
        F.col("id").alias("s1"),
        F.col("subject").alias("s2"),
        F.col("type").alias("s3"),
        F.col("container-title").alias("s4"),
        F.col("publisher").alias("s5"),
        F.col("doi").alias("s6"),
        F.col("title").alias("s7"),
        F.col("versions").alias("s8"),
    )
    a = authors.select(
        F.lit("a").alias("tag"),
        ni.alias("i1"),
        ni.alias("i2"),
        F.col("id").alias("s1"),
        F.col("full_name").alias("s2"),
        F.col("affiliation").alias("s3"),
        F.col("gender").alias("s4"),
        *[e.alias(f"s{k}") for k in range(5, 9)],
    )
    out = (
        y.unionByName(m)
        .unionByName(a)
        .coalesce(1)
        .mapInArrow(_star_kernel, _STAR_OUT_SCHEMA)
        .localCheckpoint(eager=True)
    )
    frames = {
        name: out.filter(F.col("tbl") == name).select(
            *[F.col(slot).alias(col) for slot, col in slots]
        )
        for name, slots in _STAR_SLICES.items()
    }
    return StarState(**frames)


def load_batch(
    state: StarState,
    staging_main: DataFrame,
    staging_authors: DataFrame,
    n_staging_rows: int | None = None,
) -> StarState:
    """One micro-batch of the dimensional load (ref pop_DWH.py:140-307).

    Idempotent (T6): re-running the same batch is a no-op because every
    dim and fact insert is anti-joined on its natural key first.

    Bridge invariant: every bridge group key is a ``paper_fact`` group
    key. New group keys continue above ``max(paper_fact group key)``
    and new bridge rows carry only new facts' group keys, so no new
    bridge row can already exist; the bridges are appended after a
    DISTINCT, with no anti-join against ``state.bridge_*``. A state
    built outside this module must hold the invariant too.

    Scale check (r11, local[32], dense_ids key path): a 100x staging
    batch (500k papers, ~786k distinct authors) bulk-loads in 19.7 s —
    slightly FASTER than the r9 window-form's ~21 s, because at this
    size the per-tag single-partition sort the window form paid
    outweighs dense_ids' two fixed-cost checkpoints — vs ~8 s for the
    sf0.1 batch (job-count fixed costs amortize into real work). A
    10%-novel incremental batch of 100k papers on top takes 10.8 s, and
    surrogate keys stay dense (max == count == countDistinct) at 819k
    author-dim rows and 550k fact rows.
    """
    # Size-gated first-batch kernel (r19): an empty bootstrap warehouse
    # plus a small staging batch runs as one single-task job
    # (_star_local) instead of the ~18-checkpoint distributed batch.
    # ``n_staging_rows`` (r20, VERDICT item 6) is an optional
    # caller-supplied UPPER BOUND on combined staging rows (e.g. a
    # parquet footer count of the staging source times its max fan-out):
    # it can only PROVE smallness — skipping the gate's bounded count
    # job — never force the distributed path. Without a usable bound the
    # gate count stays one bounded partial scan (limit(N+1)); any
    # non-bootstrap state skips the count entirely.
    if _bootstrap_only(state):
        if n_staging_rows is not None and n_staging_rows <= LOCAL_STAR_ROWS:
            return _star_local(state, staging_main, staging_authors)
        n = (
            staging_main.select(F.lit(1).alias("one"))
            .unionAll(staging_authors.select(F.lit(1).alias("one")))
            .limit(LOCAL_STAR_ROWS + 1)
            .count()
        )
        if n <= LOCAL_STAR_ROWS:
            return _star_local(state, staging_main, staging_authors)
    # The two staging checkpoints are independent — run them as
    # concurrent jobs (r9: they were two serial driver syncs).
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_main = pool.submit(
            lambda: impute_sentinels(staging_main).localCheckpoint(eager=True)
        )
        f_auth = pool.submit(
            lambda: impute_author_sentinels(staging_authors).localCheckpoint(
                eager=True
            )
        )
        main = f_main.result()
        authors = f_auth.result()

    ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    # -- dims (D3 distinct + J4/J5 upsert; ref pop_DWH.py:157-212) --------
    # All five upserts ride ONE tagged logical plan (_upsert_all_dims;
    # ~3 jobs per batch counting dense_ids' internal checkpoints, never
    # one-per-dim); the returned frames are pure filters over the plan's
    # checkpointed output, safe to re-evaluate downstream.
    dims = _upsert_all_dims(state, main, authors)
    dim_domain = dims["domain"]
    dim_type = dims["type"]
    dim_venue = dims["venue"]
    dim_author = dims["author"]
    dim_affiliation = dims["affiliation"]

    # -- fact (J3 lookups + J5 conflict-skip; ref pop_DWH.py:215-233) -----
    new_papers = main.join(
        state.paper_fact.select(F.col("arxiv_ID").alias("id")), ["id"], "left_anti"
    )
    group_starts = state.paper_fact.agg(
        F.coalesce(F.max("author_group_key"), F.lit(0)).alias("__ag"),
        F.coalesce(F.max("affiliation_group_key"), F.lit(0)).alias("__fg"),
    )
    fact_base = (
        new_papers.join(
            F.broadcast(state.dim_year),
            new_papers["published-year"] == state.dim_year["publication_year"],
            "left",
        )
        .join(
            F.broadcast(dim_domain),
            new_papers["subject"] == dim_domain["scientific_domain"],
            "left",
        )
        .join(
            F.broadcast(dim_type),
            new_papers["type"] == dim_type["publication_type"],
            "left",
        )
        .join(
            F.broadcast(dim_venue),
            (new_papers["container-title"] == dim_venue["pub_venue"])
            & (new_papers["publisher"] == dim_venue["publisher"]),
            "left",
        )
    )
    # Group keys are dense sequence numbers in id order. dense_ids ranks
    # per range-partition + offsets instead of one global row_number —
    # the batch-sized single-partition WindowExec the round-1 review
    # flagged as the loader's 100x scale-killer (same ids either way).
    fact_new = ckpt(
        dense_ids(fact_base, ["id"], "_seq")
        .crossJoin(F.broadcast(group_starts))
        .select(
            "year_key",
            "domain_key",
            "type_key",
            "venue_key",
            (F.col("_seq") + F.col("__ag")).cast("int").alias("author_group_key"),
            (F.col("_seq") + F.col("__fg"))
            .cast("int")
            .alias("affiliation_group_key"),
            F.col("id").alias("arxiv_ID"),
            "doi",
            "title",
            F.regexp_replace(F.col("versions"), "^v", "")
            .cast("int")
            .alias("latest_version_nr"),
            F.col("is-referenced-by-count").cast("int").alias("citation_count"),
        )
    )
    paper_fact = state.paper_fact.unionByName(fact_new)

    # -- bridges (J6 propagation + J3 lookup + J5; ref pop_DWH.py:235-261) -
    # One checkpointed (author x new-fact x both-dim-lookups) frame feeds
    # BOTH bridges and the metric refresh: the r8 form computed the
    # authors-x-fact join once per bridge AND re-ran the whole bridge
    # plan inside materialize's dim_author job (the bridge union feeds
    # refresh_metrics) — three evaluations of the batch's one fact-sized
    # join. The lookups stay lossless inner joins: every full_name and
    # affiliation was just upserted into its dim above.
    author_rows = ckpt(
        authors.join(
            fact_new.select(
                F.col("arxiv_ID").alias("id"),
                "author_group_key",
                "affiliation_group_key",
            ),
            "id",
        )
        .join(F.broadcast(dim_author.select("author_key", "full_name")), "full_name")
        .join(
            F.broadcast(
                dim_affiliation.select(
                    "affiliation_key", F.col("affiliation_name").alias("affiliation")
                )
            ),
            "affiliation",
        )
        .select(
            "author_group_key",
            "author_key",
            "affiliation_group_key",
            "affiliation_key",
        )
    )
    # No anti-join against state.bridge_*: every group key here is a
    # new fact's (bridge invariant in the docstring).
    bridge_author = author_rows.select("author_group_key", "author_key").distinct()
    bridge_affiliation = author_rows.select(
        "affiliation_group_key", "affiliation_key"
    ).distinct()
    new_state = StarState(
        dim_year=state.dim_year,
        dim_domain=dim_domain,
        dim_type=dim_type,
        dim_venue=dim_venue,
        dim_author=dim_author,
        dim_affiliation=dim_affiliation,
        paper_fact=paper_fact,
        bridge_author_group=state.bridge_author_group.unionByName(bridge_author),
        bridge_affiliation_group=state.bridge_affiliation_group.unionByName(
            bridge_affiliation
        ),
    )
    return refresh_metrics(
        new_state, touched_authors=authors.select("full_name")
    ).materialize()


def refresh_metrics(state: StarState, touched_authors: DataFrame) -> StarState:
    """A7/T4 (ref pop_DWH.py:272-304): recompute h/g-index only for the
    authors touched by this batch — one window and one aggregate
    (:func:`hg_index_agg`, h and g in the same pass) over the
    semi-joined (author x paper-citation) slice, then Type-1 overwrite.

    g-index contract: an author none of whose papers has a positive
    citation count keeps ``g_index`` NULL, not the DDL default 0 (the
    g-index is defined over cited papers only); the bootstrap kernel
    does the same.

    The refreshed dim_author is a join over the tag-filter dim, so
    ``materialize`` checkpoints it; its partition count stays bounded
    because the dim it reads is."""
    touched = (
        state.dim_author.join(
            touched_authors.distinct(), "full_name", "left_semi"
        )
        .select("author_key")
    )
    cites = (
        touched.join(state.bridge_author_group, "author_key")
        .join(state.paper_fact.select("author_group_key", "citation_count"),
              "author_group_key")
        .select("author_key", "citation_count")
    )
    metrics = hg_index_agg(cites, "author_key", "citation_count")
    updated = (
        state.dim_author.join(F.broadcast(metrics), "author_key", "left")
        .select(
            "author_key",
            "full_name",
            "gender",
            F.coalesce("hindex", "h_index").cast("int").alias("h_index"),
            F.coalesce("gindex", "g_index").cast("int").alias("g_index"),
        )
    )
    return StarState(
        dim_year=state.dim_year,
        dim_domain=state.dim_domain,
        dim_type=state.dim_type,
        dim_venue=state.dim_venue,
        dim_author=updated,
        dim_affiliation=state.dim_affiliation,
        paper_fact=state.paper_fact,
        bridge_author_group=state.bridge_author_group,
        bridge_affiliation_group=state.bridge_affiliation_group,
    )
