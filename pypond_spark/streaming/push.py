"""In-process push source: reference ``Stream`` parity on file streaming.

Reference protocol (``pypond/io/input.py:83-114``): ``start()``,
``add_event(event)`` pushes one event through the processor chain to
observers, ``stop()`` flushes. Spark has no Python-facing MemoryStream, so
the push surface is built from pieces Structured Streaming does give us:

- ``add_event`` appends the event as one small parquet file in a private
  spool directory (written driver-side with pyarrow — no Spark job);
- the processing chain is a normal streaming transformation over a
  file-source ``readStream`` of that directory;
- ``process()`` drains everything pushed since the last drain with an
  ``availableNow`` trigger against a persistent checkpoint, delivering
  emitted rows to ``on_emit`` callbacks via ``foreachBatch``. Aggregation
  state lives in the checkpoint's state store, so running aggregates
  continue across drains exactly like the reference's long-lived
  processors;
- ``stop()`` runs a final drain (the reference's flush-on-stop,
  ``io/input.py:94-97``) and stops accepting events.

Micro-batch boundaries replace the reference's synchronous call chain:
events pushed since the last trigger are delivered on the next one. At
scale the same chain runs unchanged against a real source (kafka / file
drop directory) — this class only swaps the transport.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .stream import _drain_available_now


class PushStream:
    """Push events one at a time into a streaming query (test ergonomics /
    interactive parity; production streams read kafka or file drops)."""

    def __init__(self, spark: SparkSession, schema: T.StructType | str,
                 time_col: str = "time"):
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        self._spark = spark
        self._schema = schema
        self._time_col = time_col
        base = tempfile.mkdtemp(prefix="pypond_push_")
        self._spool = os.path.join(base, "spool")
        self._checkpoint = os.path.join(base, "checkpoint")
        os.makedirs(self._spool)
        self._base = base
        self._seq = 0
        self._running = False
        self._pipe: Callable[[DataFrame], DataFrame | tuple[DataFrame, str]] \
            = lambda sdf: (sdf, "append")
        self._callbacks: list[Callable] = []

    # -- wiring (reference PipelineIn surface) ------------------------------
    def pipe(self, fn) -> "PushStream":
        """Set the processing chain: ``fn(streaming_df) -> DataFrame`` or
        ``(DataFrame, output_mode)`` (e.g. ``windowed_stream_aggregate``)."""
        self._pipe = fn
        return self

    def on_emit(self, callback: Callable) -> "PushStream":
        """Register ``callback(row)`` invoked for every emitted result row."""
        self._callbacks.append(callback)
        return self

    def start(self) -> "PushStream":
        self._running = True
        return self

    # -- the push protocol --------------------------------------------------
    def add_event(self, event: dict) -> None:
        """Append one event. Dropped silently when stopped (reference
        ``add_event`` gates on ``self._running``, ``io/input.py:105-114``).

        The event dict maps column name -> value; the time column accepts a
        datetime or epoch-ms int.
        """
        if not self._running:
            return
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        row = dict(event)
        tv = row.get(self._time_col)
        if isinstance(tv, (int, float)):
            row[self._time_col] = datetime.datetime.fromtimestamp(
                tv / 1000.0, tz=datetime.timezone.utc).replace(tzinfo=None)
        arrow_schema = to_arrow_schema(self._schema)
        table = pa.Table.from_pylist([row], schema=arrow_schema)
        # write-then-rename: the file source must never see a partial file
        tmp = os.path.join(self._base, f"wip-{self._seq}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self._spool, f"evt-{self._seq:08d}.parquet"))
        self._seq += 1

    def process(self) -> None:
        """Drain everything pushed since the last drain through the chain,
        delivering emitted rows to callbacks. State (running aggregates,
        stateful rate/align/fill) persists across drains via the
        checkpoint."""
        sdf = (self._spark.readStream.schema(self._schema)
               .parquet(self._spool))
        out = self._pipe(sdf)
        df, mode = out if isinstance(out, tuple) else (out, "append")
        callbacks = list(self._callbacks)

        def deliver(batch_df: DataFrame, _batch_id: int) -> None:
            if not callbacks:
                return
            for r in batch_df.collect():
                for cb in callbacks:
                    cb(r)

        _drain_available_now(self._spark, df.writeStream.outputMode(mode)
                             .foreachBatch(deliver)
                             .option("checkpointLocation", self._checkpoint))

    def flush(self) -> None:
        self.process()

    def stop(self) -> None:
        """Final drain, then stop accepting events (flush-on-stop)."""
        if self._running:
            self.process()
        self._running = False

    def events(self):
        """Reference parity: unbounded sources cannot be iterated
        (``io/input.py:116-119``)."""
        raise TypeError("iteration across unbounded sources is not supported")

    def close(self) -> None:
        """Remove the spool + checkpoint directories."""
        self._running = False
        shutil.rmtree(self._base, ignore_errors=True)
