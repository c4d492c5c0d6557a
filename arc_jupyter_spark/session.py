"""SparkSession construction.

Mirrors the reference kernel's startup semantics (reference:
ArcInterpreter.scala:125-210): config layering (spark-defaults.conf →
``conf_spark_*`` environment overrides with security keys blocked →
``conf_spark_hadoop_*`` into the Hadoop conf), FAIR scheduling, a
throwaway warehouse dir, and a physical-memory guard. Re-expressed for
PySpark: AQE on, UTC session timezone, Arrow enabled, shuffle
partitions sized to the local core count rather than the 200 default
(on a real cluster this should be ~2-3× total executor cores; set
``spark.sql.shuffle.partitions`` explicitly via env/conf).

The generated-class cache is sized to a notebook session's working set.
Spark keeps 100 compiled whole-stage classes by default; one round of
the notebook deck compiles 127-129 distinct classes and the seven-query
mix at sf0.1 compiles 102. A session re-runs its cells in the same
order, and cyclic reuse of a set larger than an LRU cache misses on
every visit: each warm round recompiled about 103 classes (notebook)
and 52 (query mix) through Janino. 1000 entries hold both sets, and a
warm round compiles none.
"""

from __future__ import annotations

import os
import tempfile

# Security-sensitive keys that env-var layering must not override
# (reference: ArcInterpreter.scala:160-168 blocks authenticate keys).
BLOCKED_CONF_KEYS = frozenset(
    {
        "spark.authenticate",
        "spark.authenticate.secret",
        "spark.io.encryption.enabled",
        "spark.network.crypto.enabled",
    }
)

ENV_CONF_PREFIX = "conf_spark_"
ENV_HADOOP_PREFIX = "conf_spark_hadoop_"


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def _physical_mem_gb() -> int:
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 8


def _driver_memory() -> str:
    """Heap for the local-mode JVM (driver + all executor threads).

    Spark's 1g default collapses under 32 concurrent tasks — GC churn
    made array-heavy operators ~10× slower in profiling. Mirror the
    reference's memory-aware startup (ArcInterpreter.scala:68-70,
    143-150): half of physical RAM, clamped to [2g, 64g]; overridable
    via SPARK_GRAFT_DRIVER_MEM or conf_spark_driver_memory.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    return f"{min(64, max(2, _physical_mem_gb() // 2))}g"


def default_configs() -> dict[str, str]:
    """Baseline configs for a scale-ready session.

    At 100 TB these matter: AQE re-plans skewed joins and coalesces
    post-shuffle partitions at runtime; ``maxPartitionBytes`` keeps scan
    tasks bounded; Arrow keeps any Python exchange vectorized.
    """
    par = _default_parallelism()
    mem = _driver_memory()
    confs = {
        "spark.driver.memory": mem,
        # InferFiltersFromGenerate clones the generator expression into a
        # size()>0 filter that predicate-pushdown then moves below
        # exchanges — for expensive generators (shingling HOFs) that
        # re-evaluates them 2× per row in the narrow scan stage
        # (profiled: 15s of a 18s query). The inferred filter is purely
        # an optimization; dropping the rule changes no results.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        "spark.sql.shuffle.partitions": str(par),
        "spark.default.parallelism": str(par),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.scheduler.mode": "FAIR",
        # a static conf, read when the JVM starts: a notebook round
        # compiles 127 distinct classes and the query mix 102, above
        # Spark's 100; cyclic reuse defeats LRU, so a smaller cache
        # recompiles most of them every round
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(
            tempfile.gettempdir(), "arc-jupyter-spark-warehouse"
        ),
    }
    if mem.endswith("g") and mem[:-1].isdigit():
        # reference: spark.driver.maxResultSize = 0.8 × heap
        # (ArcInterpreter.scala:149)
        confs["spark.driver.maxResultSize"] = f"{max(1, int(mem[:-1]) * 4 // 5)}g"
    return confs


def _read_spark_defaults(path: str = "/opt/spark/conf/spark-defaults.conf") -> dict[str, str]:
    """Parse a spark-defaults.conf file (``key value`` / ``key=value`` lines).

    Reference behavior: Common.scala:573-592 layers this file under env
    overrides.
    """
    out: dict[str, str] = {}
    try:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                if "=" in line and " " not in line.split("=", 1)[0]:
                    key, value = line.split("=", 1)
                else:
                    parts = line.split(None, 1)
                    if len(parts) != 2:
                        continue
                    key, value = parts
                out[key.strip()] = value.strip()
    except OSError:
        pass
    return out


def _env_overrides(environ: dict[str, str] | None = None) -> tuple[dict[str, str], dict[str, str]]:
    """Extract ``conf_spark_*`` / ``conf_spark_hadoop_*`` env overrides.

    Underscores map to dots (``conf_spark_sql_shuffle_partitions`` →
    ``spark.sql.shuffle.partitions``). Security keys are dropped.
    """
    environ = dict(os.environ if environ is None else environ)
    spark_conf: dict[str, str] = {}
    hadoop_conf: dict[str, str] = {}
    for key, value in environ.items():
        if key.startswith(ENV_HADOOP_PREFIX):
            hadoop_conf[key[len(ENV_HADOOP_PREFIX):].replace("_", ".")] = value
        elif key.startswith(ENV_CONF_PREFIX):
            conf_key = "spark." + key[len(ENV_CONF_PREFIX):].replace("_", ".")
            if conf_key in BLOCKED_CONF_KEYS:
                continue
            spark_conf[conf_key] = value
    return spark_conf, hadoop_conf


def build_session(
    master: str | None = None,
    app_name: str = "arc-jupyter-spark",
    extra_conf: dict[str, str] | None = None,
):
    """Build (or fetch) the SparkSession with layered configuration.

    Precedence (lowest → highest): engine defaults → spark-defaults.conf
    → ``conf_spark_*`` env (security keys blocked) → ``extra_conf``.
    """
    from pyspark.sql import SparkSession

    master = master or os.environ.get("CONF_MASTER", "local[*]")
    confs: dict[str, str] = {}
    confs.update(default_configs())
    confs.update(_read_spark_defaults())
    env_spark, env_hadoop = _env_overrides()
    confs.update(env_spark)
    if extra_conf:
        confs.update(extra_conf)

    builder = SparkSession.builder.master(master).appName(app_name)
    for key, value in confs.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    for key, value in env_hadoop.items():
        spark.sparkContext._jsc.hadoopConfiguration().set(key, value)
    spark.sparkContext.setLogLevel("WARN")
    # deployment-posture switch for the iterative operators (see
    # arc_jupyter_spark/checkpoint.py): local lineage truncation by
    # default; reliable (fault-tolerant dir) for long cluster runs
    ckpt_mode = os.environ.get("SPARK_GRAFT_CHECKPOINT_MODE")
    if ckpt_mode:
        from arc_jupyter_spark import checkpoint as _ckpt

        spark.conf.set(_ckpt.MODE_KEY, ckpt_mode)
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    # register the Arc UDF set once per session (reference registers at
    # startup, ArcInterpreter.scala:378-381)
    if not getattr(spark, "_arc_udfs_registered", False):
        from arc_jupyter_spark.functions import register_udfs

        register_udfs(spark)
        spark._arc_udfs_registered = True
    return spark
