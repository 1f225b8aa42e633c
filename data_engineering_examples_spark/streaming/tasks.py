"""L6 — workflow streaming: the consultation-writeback task queue as
Structured Streaming (SURVEY §2 T1-T5, S4, S9, P8; §7.1 L6).

The reference polls a FHIR server every minute from an Airflow DAG
(``dags/ConsultationNoteWritebackX.py:47-113``), fans out one child-DAG
run per accepted Task, and PUTs read-modify-write status transitions with
audit notes (``:128-234``). Here:

* **poll** (T1/W1/P8) — the search-param dict becomes a filter + sort +
  limit over the tasks table; the version runaway guard (versionId>1000,
  ``:88``) and the completed-skip (``:404-411``) are predicates.
* **stream** (S9: status writeback) — ``readStream`` over the tasks
  directory; each new file is a micro-batch (the 1-minute poll becomes a
  trigger interval; ``availableNow`` in tests). Each micro-batch runs in
  ``foreachBatch`` as one MERGE statement (``_MERGE_SQL``): the
  deduplicated batch FULL OUTER JOIN the state table on id, one fate per
  row — keep, advance (or insert), drop — and one rewrite of the state.
  On a Delta sink this is ``MERGE INTO`` per micro-batch.
* **at-least-once guards** (T2) — batch-local dedup on task id (keep max
  version, then the runaway guard) + terminal-state check against the
  state row: re-delivered tasks transition at most once;
  completed/failed/cancelled never regress.
* **audit notes** (T3) — every transition appends ``{time, text}`` to the
  notes array, mirroring ``:137-141``.
* **watermark** (T5) — ``task_throughput`` shows the windowed-aggregation
  form with ``withWatermark`` bounding late arrivals.

Scale: state is keyed by task id — the MERGE scans the batch and the
state once each and shuffles each once on id; the poll filter pushes to
the scan. No per-task Python loop; fan-out parallelism is partition
parallelism, not one DAG run per task.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VERSION_RUNAWAY = 1000  # poll guard, ConsultationNoteWritebackX.py:88
TERMINAL = ("completed", "failed", "cancelled", "rejected")

# accepted → in-progress → completed; the reference's failure/cancel
# callbacks write the corresponding terminal state instead.
NEXT_STATUS = {"accepted": "in-progress", "in-progress": "completed"}

TASK_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("authored_on", T.TimestampNTZType()),
        T.StructField("version_id", T.IntegerType()),
        T.StructField("focus_identifier_system", T.StringType()),
        T.StructField("focus_identifier_value", T.StringType()),
        T.StructField("note", T.StringType()),
        T.StructField("output", T.StringType()),
        T.StructField("resource_string", T.StringType()),
    ]
)


def poll_tasks(
    tasks: DataFrame,
    status: str = "accepted",
    authored_after: str = "2025-07-01",
    page_size: int = 5,
) -> DataFrame:
    """The FHIR search-param dict (`_sort=-authored-on, authored-on=gt…,
    _count=N, status=…`, ConsultationNoteWritebackX.py:63-68) as a plan:
    pushed filters + TakeOrderedAndProject top-k. Includes the version
    runaway guard (P8/T2)."""
    return (
        tasks.filter(
            (F.col("status") == status)
            & (F.col("authored_on") > F.lit(authored_after).cast("timestamp_ntz"))
            & (F.col("version_id") <= VERSION_RUNAWAY)
        )
        .orderBy(F.desc("authored_on"))
        .limit(page_size)
    )


_NOTE_DDL = "array<struct<time:string,text:string>>"

# The MERGE of one micro-batch into the state table, as ONE statement: the
# batch and the state are each scanned once and shuffled once on id, and a
# single full outer join decides every row's fate:
#
# * advance — a non-terminal task in the batch moves one step, its
#   version bumps and its audit note is appended (T3). The state row's
#   fields win over the redelivery's (GET-latest-then-PUT,
#   ConsultationNoteWritebackX.py:131-135); the delivery fills what the
#   state lacks, and a task absent from the state is inserted this way;
# * keep — a state row the batch leaves alone, or one already terminal
#   (terminal states never regress, T2);
# * drop — a task terminal on arrival (the WHERE).
#
# ``latest`` collapses re-deliveries inside the batch to the max version
# BEFORE the runaway guard, so a task whose max version exceeds it is
# dropped even when a lower version came in the same batch. The WHERE
# tests the fate, not the CASE's result: a filter on the result would be
# pushed below the projection and evaluate the note rewrite twice. The
# clock is the ``:now`` parameter (NULL means now()).
_CUR_STATUS = "coalesce(s.status, b.status)"
_TERMINAL_SQL = ", ".join(f"'{t}'" for t in TERMINAL)
_NEXT_SQL = " ".join(f"WHEN '{a}' THEN '{n}'" for a, n in NEXT_STATUS.items())
_ADVANCE = f"b.rn = 1 AND {_CUR_STATUS} NOT IN ({_TERMINAL_SQL})"
_MERGE_SQL = f"""
WITH latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY version_id DESC) AS rn
    FROM {{batch}}
  ) WHERE rn = 1 AND version_id <= {VERSION_RUNAWAY}
)
SELECT r.* FROM (
  SELECT CASE WHEN {_ADVANCE} THEN named_struct(
      'id', b.id,
      'status', CASE {_CUR_STATUS} {_NEXT_SQL} ELSE {_CUR_STATUS} END,
      'authored_on', coalesce(s.authored_on, b.authored_on),
      'version_id', coalesce(s.version_id, b.version_id) + 1,
      'focus_identifier_system',
        coalesce(s.focus_identifier_system, b.focus_identifier_system),
      'focus_identifier_value',
        coalesce(s.focus_identifier_value, b.focus_identifier_value),
      'note', to_json(concat(
        coalesce(from_json(coalesce(s.note, b.note), '{_NOTE_DDL}'),
                 CAST(array() AS {_NOTE_DDL})),
        array(named_struct(
          'time', date_format(
            coalesce(CAST(:now AS TIMESTAMP_NTZ), CAST(now() AS TIMESTAMP_NTZ)),
            'yyyy-MM-dd\\'T\\'HH:mm:ss+00:00'),
          'text', 'transition')))),
      'output', coalesce(s.output, b.output),
      'resource_string', coalesce(s.resource_string, b.resource_string))
    ELSE named_struct(
      'id', s.id, 'status', s.status, 'authored_on', s.authored_on,
      'version_id', s.version_id,
      'focus_identifier_system', s.focus_identifier_system,
      'focus_identifier_value', s.focus_identifier_value,
      'note', s.note, 'output', s.output, 'resource_string', s.resource_string)
  END AS r
  FROM latest b
  FULL OUTER JOIN (SELECT *, TRUE AS in_state FROM {{state}}) s ON b.id = s.id
  WHERE ({_ADVANCE}) OR s.in_state
)
"""


class TaskStateMachine:
    """MERGE-per-micro-batch task state store over parquet.

    ``process_batch`` is a ``foreachBatch`` target: it advances every
    non-terminal incoming task one transition, appends the audit note,
    and rewrites the state table. The whole body is one SQL statement
    (``_MERGE_SQL``): the deduplicated batch FULL OUTER JOIN the state on
    id, one fate per row — keep, advance (or insert), drop — the shape of
    ``MERGE INTO state USING batch ON id WHEN MATCHED/NOT MATCHED`` on
    Delta. Each input is scanned and shuffled once, and the plan is
    built in one analyzer pass.
    """

    def __init__(self, spark: SparkSession, state_dir: str, now_utc: str | None = None):
        self.spark = spark
        self.state_dir = state_dir
        # injectable clock for replayable tests; prod passes None → now()
        self._now_utc = now_utc

    def _recover(self) -> None:
        """Crash recovery for the rename swap: dying between the two
        renames leaves the only surviving state at the old-side path
        (live dir missing) — restore the PRE-batch state. The streaming
        checkpoint replays the unacknowledged batch, and replay-over-old
        recomputes the identical transition (the clock is injected);
        adopting the tmp dir instead would advance the batch twice.

        Runs once per batch entry (and per cold ``state()`` read), NOT
        per state-frame construction: a crash can only interleave with a
        swap, and ``process_batch`` swaps exactly once at its end — so
        the state read inside one batch sees the recovered layout, and
        an object store pays one existence probe (a LIST round-trip on
        S3/GCS) per batch."""
        from ..sources.layout import recover_swap

        recover_swap(self.state_dir)

    def state(self) -> DataFrame:
        self._recover()
        return self._state_frame(self.spark)

    def _state_frame(self, session: SparkSession) -> DataFrame:
        """Plain read of the (already-recovered) state dir."""
        if os.path.exists(os.path.join(self.state_dir, "_SUCCESS")):
            return session.read.schema(TASK_SCHEMA).parquet(self.state_dir)
        return session.createDataFrame([], TASK_SCHEMA)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._recover()
        # foreachBatch hands over a frame of a cloned session; the temp
        # views ``sql`` creates for {batch}/{state} are session-scoped, so
        # the state is read, and the statement run, in the batch's session
        session = batch.sparkSession
        new_state = session.sql(
            _MERGE_SQL,
            args={"now": self._now_utc},
            batch=batch,
            state=self._state_frame(session),
        )
        # state_dir is both source and sink, so the new state is written
        # executor-side to a temp dir while the old dir is still readable,
        # then swapped in with two renames (sources/layout.py:swap_write,
        # which also owns the crash-recovery discipline) — no driver
        # materialization, so the state table can be arbitrarily large.
        # On Delta, MERGE makes this a transactional in-place upsert.
        from ..sources.layout import swap_write

        swap_write(new_state, self.state_dir)

    def run_available(self, input_dir: str, checkpoint_dir: str) -> None:
        """Drain all unprocessed files (T1: the poll trigger; tests use
        availableNow so the query stops at the current end of stream)."""
        stream = self.spark.readStream.schema(TASK_SCHEMA).parquet(input_dir)
        q = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def task_throughput(stream: DataFrame, window: str = "1 hour") -> DataFrame:
    """Windowed task-arrival counts with a watermark bounding late data
    (T5): late arrivals beyond 10 minutes are dropped from closed
    windows instead of growing state forever."""
    return (
        stream.withColumn("ts", F.col("authored_on").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window).alias("w"), "status")
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            "status",
            "count",
        )
    )


# ---------------------------------------------------------------------------
# Advanced stateful form (SURVEY §1.1 task-queue row: "Structured Streaming
# source + applyInPandasWithState/foreachBatch upsert"). The MERGE-per-batch
# TaskStateMachine above is the simple, Delta-friendly form; this is the
# operator-state form — per-key state lives in the streaming state store
# (checkpointed, partitioned by key), so no external state table is read or
# rewritten per batch. Use it when per-key logic outgrows MERGE algebra
# (counters, timers, session-like accumulation).

TASK_PROGRESS_SCHEMA = (
    "id string, status string, n_updates int, max_version int"
)
_PROGRESS_STATE_SCHEMA = "n_updates int, max_version int, status string"


def task_progress_stateful(stream: DataFrame) -> DataFrame:
    """Per-task progress tracker: counts deliveries, keeps the
    highest-version status seen (at-least-once tolerant — re-deliveries
    bump ``n_updates`` but can never regress ``status`` to a lower
    version). State is (n_updates, max_version, status) per task id."""
    import pandas as pd  # local: executors import lazily

    def update(key, pdfs, state):
        if state.exists:
            n, vmax, status = state.get
        else:
            n, vmax, status = 0, -1, None
        for pdf in pdfs:
            for ver, st in zip(pdf["version_id"], pdf["status"]):
                n += 1
                v = -1 if ver is None or pd.isna(ver) else int(ver)
                if v > vmax:
                    vmax, status = v, st
        state.update((n, vmax, status))
        yield pd.DataFrame(
            [{"id": key[0], "status": status, "n_updates": n, "max_version": vmax}]
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("id").applyInPandasWithState(
        update,
        TASK_PROGRESS_SCHEMA,
        _PROGRESS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def dedup_stream(stream: DataFrame, ttl: str = "30 minutes") -> DataFrame:
    """Streaming at-least-once → effectively-once (T2) via
    ``dropDuplicatesWithinWatermark``: duplicate (id, version_id)
    deliveries inside the watermark horizon are dropped IN the stream —
    state for a key is reclaimed once the watermark passes it, so the
    dedup store is bounded by arrival rate × ttl, not by history size
    (the unbounded-state trap of plain ``dropDuplicates`` on streams)."""
    return (
        stream.withColumn("ts", F.col("authored_on").cast("timestamp"))
        .withWatermark("ts", ttl)
        .dropDuplicatesWithinWatermark(["id", "version_id"])
        .drop("ts")
    )
