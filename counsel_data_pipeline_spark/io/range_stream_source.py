"""A Spark 4 STREAMING Python Data Source: deterministic parquet replay.

The batch sibling (io/clinic_datasource.py, r8) made the landing JSON a
first-class distributed source; this module covers the other half of the
Python Data Source API — ``simpleStreamReader`` — with a facility the
test/backfill side of a pipeline genuinely needs: replay a parquet table
as N ascending-key micro-batches. The dedup/window/sketch streaming
attestations stage files on disk to get deterministic micro-batches;
this source produces the same determinism programmatically (offset =
batch ordinal, rows = the b-th slice of the key-ordered table), so a
stream can be pointed at ANY table without a staging step.

Scale notes: ``SimpleDataSourceStreamReader`` is Spark's driver-side
reader variant — rows are read on the driver and forwarded to executors
with the offsets tracked in the checkpoint log. That is the right
tradeoff for a replay/test source (determinism over parallel scan); a
production-volume source would implement ``streamReader`` with
``partitions()`` so each executor reads its own slice (exactly the
split the batch clinicjson source demonstrates). The slice query
itself pushes ORDER BY + LIMIT/OFFSET into DuckDB, so per-batch driver
memory is one slice, never the table.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

EVENTS_DDL = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, value_mi BIGINT"
)


class RangeParquetStreamSource(DataSource):
    """format("rangeparquet"): options path (one parquet file), batches
    (micro-batch count), keycol (total-order column)."""

    @classmethod
    def name(cls) -> str:
        return "rangeparquet"

    def schema(self) -> str:
        return EVENTS_DDL

    def simpleStreamReader(self, schema) -> "RangeParquetStreamReader":
        return RangeParquetStreamReader(self.options)


class RangeParquetStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = str(options["path"])
        self.n = int(options.get("batches", "4"))
        self.keycol = str(options.get("keycol", "event_id"))
        self._total: int | None = None  # memoized; immutable per path
        if self.n < 1:
            raise ValueError(f"batches must be >= 1, got {self.n}")

    def initialOffset(self) -> dict:
        return {"b": 0}

    def _batch_rows(self, b: int) -> list[tuple]:
        # Driver-side read; import here so only the reader needs duckdb.
        import duckdb

        con = duckdb.connect()
        try:
            if self._total is None:
                self._total = con.execute(
                    "SELECT count(*) FROM read_parquet(?)", [self.path]
                ).fetchone()[0]
            total = self._total
            lo = total * b // self.n
            hi = total * (b + 1) // self.n
            return con.execute(
                f"""
                SELECT event_id, user_id, event_type,
                       CAST(round(value * 1000000) AS BIGINT) AS value_mi
                FROM read_parquet(?)
                ORDER BY {self.keycol}
                LIMIT {hi - lo} OFFSET {lo}
                """,
                [self.path],
            ).fetchall()
        finally:
            con.close()

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        b = int(start["b"])
        if b >= self.n:
            return iter(()), {"b": b}
        return iter(self._batch_rows(b)), {"b": b + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # Replay path (recovery): offsets fully determine the rows, the
        # exactly-once contract this source exists to demonstrate.
        out: list[tuple] = []
        for b in range(int(start["b"]), int(end["b"])):
            out.extend(self._batch_rows(b))
        return iter(out)

    def commit(self, end: dict) -> None:
        pass


def register(spark) -> None:
    spark.dataSource.register(RangeParquetStreamSource)


def run_complete_until(
    result, expected_rows: int, timeout_s: float = 300.0
) -> tuple[list, object, int]:
    """Run a COMPLETE-mode aggregation over this source until every
    input row has been processed, then stop and return (rows, schema,
    n_data_batches).

    Trigger.AvailableNow cannot drain a simple stream reader (it fixes
    the end offset at the one prefetched batch), so this polls query
    progress and stops once the cumulative numInputRows reaches the
    known table size — progress for a batch is reported after its sink
    commit, so the memory table already holds that batch's state."""
    import shutil
    import tempfile
    import time
    import uuid

    name = f"q_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    seen: dict[int, int] = {}
    deadline = time.time() + timeout_s
    try:
        while time.time() < deadline:
            if not q.isActive:
                # fail fast: surface the query's own error instead of
                # spinning to the timeout with an empty progress log
                q.awaitTermination()
                raise RuntimeError("streaming query terminated early")
            for p in q.recentProgress:
                seen[p["batchId"]] = p["numInputRows"]
            if sum(seen.values()) >= expected_rows:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError(
                f"stream served {sum(seen.values())}/{expected_rows} rows "
                f"within {timeout_s}s"
            )
    finally:
        try:
            q.stop()
            q.awaitTermination()  # re-raises the query's own error
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    spark = result.sparkSession
    out = spark.table(name)
    rows = out.collect()
    schema = out.schema
    n_data_batches = sum(1 for v in seen.values() if v > 0)
    return rows, schema, n_data_batches
