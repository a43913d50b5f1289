"""Result sinks — the Spark-first analogue of the reference's
ResultEmitter/ResultPublisher (ResultEmitter.scala:19-30,
ResultPublisher.scala:78-99): instead of publishing Clip JSON through a
PubSub broadcast singleton, results flow through ``foreachBatch`` into a
pluggable sink; production targets use Spark's own writeStream formats
directly."""

from __future__ import annotations

import threading


class MemorySink:
    """Collects emitted batches on the driver (test/interactive sink —
    the analogue of the reference's CustomPublisher capture,
    CustomPublisher.scala:17-38). Thread-safe: foreachBatch runs on the
    streaming-execution thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[list[tuple]] = []
        self.columns: list[str] | None = None

    def __call__(self, batch_df, epoch_id: int) -> None:
        rows = [tuple(r) for r in batch_df.collect()]
        with self._lock:
            if self.columns is None:
                self.columns = list(batch_df.columns)
            self.batches.append(rows)

    @property
    def rows(self) -> list[tuple]:
        with self._lock:
            return [r for b in self.batches for r in b]

    @property
    def num_emissions(self) -> int:
        """Non-empty batch count (bullet counts window emissions)."""
        with self._lock:
            return sum(1 for b in self.batches if b)
