"""Structured Streaming layer (SURVEY §2.9 T1-T9, §3.2-3.3).

The reference's ingest/pub-sub/replay stack maps onto Structured Streaming:

- T1 pub/sub            → one streaming query per subscription with a
                          key-pattern filter pushed into the source scan
- T2 replay (psub)      → batch: event-time ordered scan of date-pruned
                          files; streaming: ``availableNow`` backfill that
                          transitions to live (the reference's WAIT tag)
- T3 k-way time merge   → ``unionByName(allowMissingColumns)`` + event-time
                          ordering — Spark's shuffle replaces the reference's
                          min-heap pop loop
- T4 lifecycle protocol → StreamingQueryListener events
- T5 late data          → watermarks + per-scale upsert rules (write.py)
- T7 daily cutover      → date-partitioned append, day-scoped pack (write.py)
- T8/T9 upsert/delete   → merge/delete emulation over parquet (write.py;
                          Delta's MERGE INTO where the jar is available)
"""
