"""Pub/sub subscriptions (T1) + lifecycle listener (T4).

Reference: ``sub``/``hsub``/``unsub`` register per-client key matchers —
exact, comma list, prefix ("head match"), ``*`` glob
(`workers/sisdb_server/sisdb_sub.h:10-63`); every write is fanned out to
matching subscribers.  Spark: each subscription is a streaming query whose
key-pattern predicate is pushed into the source scan, so a subscription to
``SH6*`` never reads other keys' files once the source is partitioned or
bucketed by key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_pattern_filter(key_col: Column, pattern: str) -> Column:
    """Compile a reference key pattern to a text-match Column predicate.

    Forms (api_sisdb.h:66-78): ``*`` (all), exact ``SH600600``, comma list
    ``SH688,SZ300``, prefix glob ``SH6*``, contains glob ``*600*``.

    The predicate reaches the Parquet reader only when ``key_col`` is the
    stored column itself (a string key).  Over ``cast(col AS string)`` of a
    numeric key the scan gets no pushed filter, which is why
    ``plans.engine.key_predicate`` compiles canonical integer terms to a
    typed predicate instead and uses this form for the rest.
    """
    if pattern == "*":
        return F.lit(True)
    terms = [t.strip() for t in pattern.split(",") if t.strip()]
    preds: list[Column] = []
    for t in terms:
        if "*" in t:
            # escape LIKE metacharacters FIRST: the reference glob knows
            # only `*`, so a literal `_` or `%` in a key pattern (keys
            # like `stk_day` are routine) must match itself, not act as
            # a single-char/any wildcard
            esc = (
                t.replace("\\", "\\\\")
                .replace("%", "\\%")
                .replace("_", "\\_")
                .replace("*", "%")
            )
            preds.append(key_col.like(esc))
        else:
            preds.append(key_col == t)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def match_keys(df: DataFrame, key_col: str, pattern: str) -> DataFrame:
    """The reference's match-set primitive (`sis_utils.h:60-82`
    ``sis_match_key``: pattern × whole-key universe → matched subset).

    A distinct-key aggregation with the compiled pattern predicate pushed
    into the scan — the whole-key "dict" the reference keeps in memory is
    here the table itself, so the match set is computed distributed and
    the same one-column frame composes under union/intersect/except
    (the subscription algebra `service_search` builds on these sets).
    """
    return (
        df.select(F.col(key_col).cast("string").alias("key"))
        .where(key_pattern_filter(F.col("key"), pattern))
        .distinct()
    )


def subscribe(
    stream: DataFrame,
    key_col: str,
    pattern: str,
    sink_format: str = "memory",
    query_name: str = "subscription",
    trigger: dict | None = None,
    **sink_options: str,
):
    """T1: start a subscription query over a streaming DataFrame.

    Returns the StreamingQuery handle; caller stops it (= ``unsub``).
    ``trigger`` passes through to ``writeStream.trigger`` (e.g.
    ``{"processingTime": "1 second"}`` for a fixed live cadence,
    ``{"availableNow": True}`` for drain-and-stop backfills); default is
    Spark's as-fast-as-possible micro-batching.
    """
    filtered = stream.where(key_pattern_filter(F.col(key_col), pattern))
    writer = (
        filtered.writeStream.format(sink_format)
        .queryName(query_name)
        .outputMode("append")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    for k, v in sink_options.items():
        writer = writer.option(k, v)
    return writer.start()


class LifecycleLog:
    """T4 lifecycle protocol: collect start/progress/idle/stop events —
    the Spark analogue of the reference's OPEN/…/WAIT/STOP tags
    (`src/core/net/sis_net.msg.h:37-45`).

    Register with ``spark.streams.addListener(LifecycleLog().listener())``.
    """

    def __init__(self) -> None:
        self.events: list[tuple[str, str]] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.events

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                log.append(("START", event.id))

            def onQueryProgress(self, event):
                log.append(("PROGRESS", event.progress.id))

            def onQueryIdle(self, event):
                # catch-up complete, now live — the reference's WAIT tag
                log.append(("WAIT", event.id))

            def onQueryTerminated(self, event):
                log.append(("STOP", event.id))

        return _L()
