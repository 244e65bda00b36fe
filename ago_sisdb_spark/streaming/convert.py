"""Config-driven multi-scale rollup service (reference "convert" wiring:
``snodb.stk_snapshot → [after.stk_min, after.stk_day]``,
`bin/init-sisdb.conf:288-298`, `workers/sisdb_wsdb/sisdb_wsdb.c:263`).

One source stream fans out into N widths.  Each width is its own streaming
query writing its own sink — independent watermark progress, exactly like
the reference's per-scale tables; the snapshot→min→day *chain* composes
offline via ``operators.rollup.bars_to_coarser`` (associativity pinned by
tests/test_rollup.py), so only the finest width ever reads the raw stream
at scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ago_sisdb_spark.streaming.rollup_stream import streaming_ohlcv


@dataclass
class ConvertSpec:
    """One conversion: source stream → bar table at ``width``."""

    width: str  # e.g. "1 minute", "1 day"
    sink_name: str  # memory-sink query name / table name
    watermark: str = "10 minutes"


@dataclass
class ConvertService:
    """The convert worker: declared conversions applied to a tick stream.

    ``start(stream)`` launches one streaming query per spec and returns the
    handles; ``stop_all`` ends the service.  ``start`` writes memory tables
    (tests); ``start_to_parquet`` is the production form, the same bars
    into checkpointed parquet append sinks.
    """

    key_cols: list[str]
    time_col: str
    price_col: str
    volume_col: str | None = None
    specs: list[ConvertSpec] = field(default_factory=list)
    _queries: list = field(default_factory=list)

    @classmethod
    def from_config(cls, config: dict) -> "ConvertService":
        """Reference conf form:
        ``{"key": ["sym"], "time": "ts", "price": "price", "volume": "vol",
           "convert": [{"width": "1 minute", "sink": "stk_min"}, ...]}``"""
        return cls(
            key_cols=list(config["key"]),
            time_col=config["time"],
            price_col=config["price"],
            volume_col=config.get("volume"),
            specs=[
                ConvertSpec(c["width"], c["sink"], c.get("watermark", "10 minutes"))
                for c in config["convert"]
            ],
        )

    def bars_for(self, stream: DataFrame, spec: ConvertSpec) -> DataFrame:
        return streaming_ohlcv(
            stream,
            self.key_cols,
            self.time_col,
            self.price_col,
            spec.width,
            watermark=spec.watermark,
            volume_col=self.volume_col,
        )

    def start(self, stream: DataFrame, available_now: bool = True) -> list:
        for spec in self.specs:
            writer = (
                self.bars_for(stream, spec)
                .writeStream.format("memory")
                .queryName(spec.sink_name)
                .outputMode("complete")
            )
            if available_now:
                writer = writer.trigger(availableNow=True)
            self._queries.append(writer.start())
        return list(self._queries)

    def start_to_parquet(
        self, stream: DataFrame, base_dir: str, available_now: bool = True
    ) -> list:
        """Production sinks: one parquet append stream per width with its
        own checkpoint dir — restartable (offsets resume) and exactly-once
        per sink.  Append mode requires a watermark on the spec; bars emit
        once finalized (the reference's day-cutover flush, per window)."""
        for spec in self.specs:
            writer = (
                self.bars_for(stream, spec)
                .writeStream.format("parquet")
                .option("path", f"{base_dir}/{spec.sink_name}")
                .option(
                    "checkpointLocation", f"{base_dir}/_ckpt/{spec.sink_name}"
                )
                .outputMode("append")
            )
            if available_now:
                writer = writer.trigger(availableNow=True)
            self._queries.append(writer.start())
        return list(self._queries)

    def await_all(self, timeout: int = 120) -> None:
        for q in self._queries:
            q.awaitTermination(timeout)

    def stop_all(self) -> None:
        for q in self._queries:
            q.stop()
        self._queries.clear()
