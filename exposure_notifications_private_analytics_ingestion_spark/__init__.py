"""PySpark-native rebuild of google/exposure-notifications-private-analytics-ingestion.

A brand-new Structured-Streaming / CEP engine over tables of multi-turn
conversation transcripts, where one turn = one uploaded Prio data-share
document (reference: /root/reference, Apache Beam batch pipeline,
``pipeline/IngestionPipeline.java``).

Layout
------
- ``model``      schema constants + vectorized validation (DataShare.java analog)
- ``operators``  dedup / window-filter / batching / packet-split / text & similarity ops
- ``sources``    deterministic transcript generator + table adapters
- ``functions``  scalar helpers (uuid5, next_power_two, digests)
- ``plans``      the pure batch core (``process_turns``) + ingestion/deletion jobs
- ``streaming``  watermark + applyInPandasWithState CEP core, exactly-once sink
- ``worker_imports``  Python workers re-read a zip on sys.path only when it changed

Everything is DataFrame-first: Catalyst plans the physical strategy; Python
appears only as Arrow-vectorized pandas UDFs (rpit generation, uuid5).
"""

from pyspark.taskcontext import TaskContext

__version__ = "0.1.0"

if TaskContext.get() is not None:  # in a Python worker, never on the driver
    from .worker_imports import install

    install()
