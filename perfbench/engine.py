"""Spark engine and JVM readings taken from the driver, outside the program.

- Per query, jobs are tagged with a job group named after the query;
  ``statusTracker`` lists the group's jobs, stages and task counts, and
  the application status store (populated with the UI disabled) gives each
  stage's shuffle-write and spill bytes.  Jobs submitted from threads other
  than the driver's main thread (thread-pool operators, streaming micro
  batches) carry no group and are not counted.
- GC totals come from the JVM's ``GarbageCollectorMXBean``s over py4j.
- Streaming progress comes from a ``StreamingQueryListener`` registered on
  each session.
"""

from __future__ import annotations

import statistics
import threading
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


def job_group_stats(spark: SparkSession, group: str) -> Counter:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out: Counter = Counter()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["spark.jobs"] += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numTasks
            out["spark.tasks_failed"] += st.numFailedTasks
            try:
                data = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the status store
                continue
            out["spark.shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["spark.spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out


def gc_totals(spark: SparkSession) -> tuple[float, int]:
    """(collection seconds, collection count) summed over the JVM's
    collectors since it started."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    ms = count = 0
    for i in range(beans.size()):
        b = beans.get(i)
        ms += max(b.getCollectionTime(), 0)
        count += max(b.getCollectionCount(), 0)
    return ms / 1000.0, count


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch durations and state-store row counts."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batch_ms: list[float] = []
        self.state_rows = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batch_ms.append(float(p.batchDuration))
            self.state_rows += sum(int(op.numRowsTotal) for op in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict[str, float]:
        """Metrics since the previous call, then reset."""
        with self._lock:
            ms, rows = self.batch_ms, self.state_rows
            self.batch_ms, self.state_rows = [], 0
        return {
            "streaming.microbatches": float(len(ms)),
            "streaming.batch_p50_ms": statistics.median(ms) if ms else 0.0,
            "streaming.state_rows": float(rows),
        }
