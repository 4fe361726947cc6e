"""Sources & sinks — SURVEY.md §2 Table B "Scans/sources".

- files.py:   batch + streaming file sources (parquet/json/csv) and the
              events→envelope replay used by tests as the Kinesis stand-in.
- kinesis.py: real-Kinesis integration points — stream admin (A3-A6) via
              boto3 behind an import-try, and the connector-based
              streaming source factory. Out of test scope (no AWS in CI),
              per SURVEY.md §7.
"""

from kinesis_sample_spark.sources.files import (
    replay_events_stream,
    replay_frame,
    write_stream_fixture,
)

__all__ = ["replay_events_stream", "replay_frame", "write_stream_fixture"]
