"""Python-worker daemon with the engine's hot imports preloaded.

PySpark's worker pool is a daemon process that forks one child per
concurrent task. By default every forked worker then imports, on
first use, the full scientific stack (numpy, pandas, pyarrow, the
Arrow serializers) plus this package when it unpickles an engine UDF
— at 32 concurrent tasks that is 32 concurrent cold imports, several
seconds of wall clock charged to the first Python stage of every
session (guide §4.5 names per-task init amortization; this moves the
amortization one level up, to the daemon).

Importing those modules HERE — in the daemon, before any fork — lets
every worker inherit the already-initialized modules by fork
copy-on-write: worker startup becomes a plain fork.

Wiring: ``spark.python.daemon.module`` points at this module
(session.get_spark sets it). Session start forks no Python process:
Spark launches this daemon, and the daemon its workers, at the first
Python stage of the session. The preload therefore serves that first
stage and every later one, and a session whose plans have no Python
node never starts it.

Importability is the same requirement the engine's pandas UDFs
already impose on workers (a worker that cannot import this package
cannot run any engine UDF either), so the preload adds no new failure
mode; individual preload imports are best-effort.
"""

# Failures must never kill the daemon: each import is independent and
# purely an optimization. pyspark.daemon itself is required — without
# it there is no worker pool at all, preloaded or not.
for _mod in (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "workstealing_spatial_join_spark.functions.wkt",
    "workstealing_spatial_join_spark.functions.geom",
    "workstealing_spatial_join_spark.functions.predicates",
    "workstealing_spatial_join_spark.operators.dedup",
    "workstealing_spatial_join_spark.operators.textops",
):
    try:
        __import__(_mod)
    except Exception:
        pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
