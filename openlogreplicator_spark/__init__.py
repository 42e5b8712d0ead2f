"""openlogreplicator_spark — a PySpark-native CDC + analytics engine.

Re-expresses the capabilities of bersler/OpenLogReplicator (Oracle redo-log
CDC → ordered JSON/Protobuf change events) as idiomatic PySpark:

- ``event_model``   — the change-event / redo-record / dictionary schemas
  (reference: src/common/RedoLogRecord.h, src/builder/BuilderJson.cpp).
- ``config``        — Format toggles + Debezium preset
  (reference: src/common/Format.h, src/OpenLogReplicator.cpp:693-708).
- ``functions``     — Oracle type decode kernels (NUMBER base-100, DATE,
  TIMESTAMP/TZ, intervals, ROWID) and the condition-expression mini-language
  (reference: src/builder/Builder.cpp:89-690, src/common/expression/).
- ``operators``     — transaction assembly (sessionize-by-xid with partial
  rollback), CDC shaping, the relational query surface, dedup / similarity /
  text-analysis operators for training-data pipelines.
- ``builders``      — JSON event builder with format toggles
  (reference: src/builder/BuilderJson.{h,cpp}).
- ``sources`` / ``streaming`` — batch + Structured Streaming wiring, sinks.

Everything is DataFrame-first: Catalyst plans the physical execution; Python
only appears in Arrow-batched pandas UDFs for the binary decode kernels and
the keyed stateful assembly.
"""

__version__ = "0.1.0"

from openlogreplicator_spark.session import get_spark  # noqa: F401
from openlogreplicator_spark.worker_zipimport import install as _install

_install()
