"""Dead-letter-queue semantics — the reference's A11 made explicit.

The reference retries each record up to 10× with 3 s backoff and then
*silently skips* it (Proc:63-91: "couldn't process record ... skipping").
That is the one reference behavior with no Spark built-in (SURVEY.md §2
A11, §7). The engine's stance:

- **transient** failures are Spark's job: task retry + micro-batch replay
  from the checkpoint give at-least-once delivery, and the engine's
  replay-safe sinks (``operators/upsert.py``: epoch-addressed writes, a
  crash-safe publish) turn it into exactly-once output — re-implementing
  backoff loops per record would fight the scheduler.
- **poison** records (undecodable/unparseable) must not be dropped
  silently: they are split into an explicit DLQ DataFrame the caller sinks
  somewhere durable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_dlq(decoded: DataFrame, *valid_cols: str) -> tuple[DataFrame, DataFrame]:
    """Split a decoded envelope stream into (good, dlq).

    A row is poison when any of ``valid_cols`` (default: ``event_ts``) is
    null — i.e. the try-parse failed. The DLQ side keeps the raw envelope
    plus a reason, so records are replayable after a fix (unlike the
    reference, which loses them)."""
    cols = list(valid_cols) or ["event_ts"]
    poison = None
    for c in cols:
        cond = F.col(c).isNull()
        poison = cond if poison is None else (poison | cond)
    good = decoded.filter(~poison)
    dlq = decoded.filter(poison).withColumn(
        "dlq_reason",
        F.concat_ws(
            ",",
            *[F.when(F.col(c).isNull(), F.lit(f"null:{c}")) for c in cols],
        ),
    )
    return good, dlq
