"""datafusion_comet_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query/data-processing
capabilities of Apache DataFusion Comet (the reference accelerator
plugin).  Where the reference swaps Spark physical operators for
native Rust kernels, this engine expresses the same operator and
expression inventory (SURVEY.md §2) directly through the PySpark
DataFrame/SQL API and lets Catalyst + Tungsten pick the physical
strategy.  Structure:

- ``session``   — tuned SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
- ``catalog``   — test-table registration over the parquet star schema
- ``plans``     — physical-plan introspection / operator assertions
- ``queries``   — the declared query inventory (TPC-H-shaped + operator
                  coverage + expression families + data-pipeline ops),
                  each paired with a DuckDB oracle SQL string
- ``functions`` — expression compat layer (eval modes, naming shims)
- ``sources``   — readers/writers (parquet/csv/json) with scan options
- ``streaming`` — Structured Streaming helpers (superset of reference,
                  which explicitly falls back on streaming plans)
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Python workers unpickle the package's data sources and pandas
# functions.  Pickled by reference, they would import
# ``datafusion_comet_spark``, which a worker finds only under its cwd or
# on its PYTHONPATH; pickled by value they carry their code, in any
# session, also one another program built.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
