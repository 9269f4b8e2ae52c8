"""SparkSession factory tuned for the KG-construction workload.

Local-mode defaults mirror what we would submit on a real cluster via
``spark-submit --py-files`` (AQE on, skew-join on, Arrow on, shuffle
partitions sized to cores). On a 1000-executor cluster only
``spark.sql.shuffle.partitions`` / memory sizing change; the plans are
identical because everything below is declarative DataFrame/SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.embedding import EMBEDDING_DIM

#: the one driver/distributed crossover, in rows (see collect_if_small)
DRIVER_MAX_ROWS = 200_000

#: ObjectHashAggregate (collect_set/collect_list aggs) falls back to
#: sort-based aggregation after only 128 in-memory groups per partition
#: by default; every KG merge partition holds 10k+ groups of small
#: bounded state, so the fallback's per-partition sort is pure overhead
#: (~8% on the edge merge, measured). Every collect aggregate in this
#: engine is order-free, so the aggregation mode cannot affect results.
OBJ_AGG_FALLBACK_THRESHOLD = 1 << 20


def collect_if_small(
    df: DataFrame, max_rows: int = DRIVER_MAX_ROWS, vec_col: str | None = None
):
    """The engine's one size policy: ``df`` as a pandas frame when it has
    at most ``max_rows`` rows, else ``None`` — one ``limit(max_rows + 1)``
    collect decides and fetches at once, with no separate count job.
    The probe runs on one partition, so its limit needs no
    single-partition exchange.

    With ``vec_col``, a row weighs ceil(len(vec_col) / EMBEDDING_DIM)
    rows (at least one), so the cap bounds the doubles that reach the
    driver — ``max_rows × EMBEDDING_DIM`` (~100 MB at the default):
    200k 64-d vectors, ~8.3k 1536-d ones.

    The graph and linking operators (components, betweenness, pagerank,
    HITS, LPA, modularity refinement, canonical_map), k-means and
    ``kg_query`` each pair an in-process numpy/Python twin with
    distributed rounds. Iterative rounds or multi-stage plans over a
    bounded input pay seconds of job and shuffle scheduling for
    milliseconds of work, so below the cap one collect plus the twin
    wins; 200k rows of an edge or name projection is tens of MB on the
    driver, while web-scale inputs stay distributed. KG entity graphs
    and linking vocabularies grow with the vocabulary, not the corpus,
    so they usually fit. Callers probe their raw input projection
    before building any checkpointed or derived frame, so a complete
    result IS the twin's input; each twin's distributed sibling is
    called directly by tests and oracles."""
    if vec_col is not None:
        copies = F.greatest(F.lit(1), F.ceil(F.size(vec_col) / EMBEDDING_DIM))
        # the first copy carries the row; the others only add weight
        df = df.select(
            F.explode(F.sequence(F.lit(1), copies)).alias("_copy"), "*"
        ).select("_copy", *[
            F.when(F.col("_copy") == 1, F.col(c)).alias(c) if c == vec_col else c
            for c in df.columns
        ])
    pdf = df.coalesce(1).limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        return None
    if vec_col is not None:
        pdf = pdf[pdf["_copy"] == 1].drop(columns="_copy").reset_index(drop=True)
    return pdf


def _default_driver_mem() -> str:
    """About 60% of MemAvailable, capped at 16g: the heap is pre-sized
    (Xms = Xmx below), so it must fit the host it starts on."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    mb = int(line.split()[1]) * 6 // 10 // 1024
                    return f"{max(512, min(mb, 16 * 1024))}m"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "graphrag_kb_server_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    Driver heap: $SPARK_GRAFT_DRIVER_MEM, else ~60% of the host's
    available memory, capped at 16g.
    shuffle_partitions: defaults to cpus (local rule-of-thumb: ~cores,
    not the 200 default which over-parallelizes small local runs and
    under-parallelizes cluster runs; on a real cluster this is set to
    ~2-3x total executor cores and AQE coalesces from there).
    """
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "")
        cpus = int(cpus_env) if cpus_env.isdigit() else 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or (cpus if cpus else 32)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep Arrow batches big enough to amortize Python worker startup
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        # Xms = Xmx: G1 commit/uncommit churn on a growing heap causes
        # madvise/TLB-shootdown storms (observed 89% system time with 32
        # runnable executor threads on a 32-vCPU VM) — a fixed-size
        # heap eliminates it
        .config("spark.driver.defaultJavaOptions", "-Xms" + driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(OBJ_AGG_FALLBACK_THRESHOLD),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The query-path merge/truncation/polling operators rank BOUNDED
    # (top-k-limited by construction) inputs with global-ordering
    # windows — functions/windows.bounded_global documents the
    # contract. WindowExec warns "No Partition Defined" on every
    # execution of those by design-single-partition windows (a constant
    # partitionBy key is constant-folded away, so the warning cannot be
    # avoided plan-side); demote that one logger so real warnings stay
    # readable in bench/driver tails.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        ).setLevel(jvm.org.apache.log4j.Level.ERROR)
    except Exception:
        pass  # log4j1 bridge absent — warnings are cosmetic only
    return spark
