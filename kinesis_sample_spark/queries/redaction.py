"""PII detection and redaction — the transform side of corpus hygiene.

Scanning for patterns is not enough; a release pipeline must also *rewrite* — strip
emails, phone-ish digit runs, ids — and report what it stripped (audit
counts), per C4/CCNet-style cleaning. The fixture documents contain no
PII by construction, so the operator renders a PII-bearing string from
event fields (user handle email, order id, raw props JSON) and then
redacts it; detection counts come from ``regexp_extract_all`` *before*
each rewrite so the audit trail can't drift from the rewrite itself.

Order matters and is part of the contract: emails are redacted before
digit runs (an email contains digits; redacting numbers first would
corrupt the email match), the standard multi-pattern redaction pitfall.

Engine parity: Spark ``regexp_replace`` replaces all matches by default;
DuckDB needs the ``'g'`` flag. The patterns use only character classes
and ``+`` quantifiers, where Java regex and RE2 agree. No backslash
classes (``\\d`` etc.) — their escaping rules differ across dialects.

Scale (100 TB): entirely map-side until the final tiny (event_type,
template) aggregation — regex work is JVM-codegen'd per row, no shuffle
of the text, no UDF.

Reference parity note: the reference decodes record payloads
(AmazonKinesisApplicationSampleRecordProcessor.java:117-148) but never
rewrites them; SURVEY §2 training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.queries import query

_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_DIGITS = "[0-9]+"

_ORACLE = f"""
WITH r AS (
  SELECT event_type,
         'contact u' || CAST(user_id AS VARCHAR) || '@example.com order '
           || CAST(event_id AS VARCHAR) || ' props ' || props AS raw
  FROM events
),
x AS (
  SELECT event_type,
         len(regexp_extract_all(raw, '{_EMAIL}')) AS n_emails,
         regexp_replace(raw, '{_EMAIL}', '<EMAIL>', 'g') AS s1
  FROM r
),
y AS (
  SELECT event_type, n_emails,
         len(regexp_extract_all(s1, '{_DIGITS}')) AS n_nums,
         regexp_replace(s1, '{_DIGITS}', '<NUM>', 'g') AS redacted
  FROM x
)
SELECT event_type, redacted,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(n_emails) AS BIGINT) AS total_emails,
       CAST(sum(n_nums) AS BIGINT) AS total_nums
FROM y
GROUP BY event_type, redacted
ORDER BY event_type, redacted
"""


@query("q124_pii_redaction", oracle=_ORACLE)
def q124_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails then digit runs from a rendered event string,
    grouped to (event_type, redacted template) with detection counts.
    Every event collapses to one template per type — which is itself the
    assertion: if any replacement missed a match, the stray digits would
    fork the template and break both the row count and the hash."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("contact u"),
        F.col("user_id").cast("string"),
        F.lit("@example.com order "),
        F.col("event_id").cast("string"),
        F.lit(" props "),
        F.col("props"),
    )
    x = ev.select("event_type", raw.alias("raw")).select(
        "event_type",
        # Spark's regexp_extract_all defaults to capture group 1; these
        # patterns have no groups, so ask for the whole match (group 0 —
        # which is also DuckDB's default).
        F.expr(f"size(regexp_extract_all(raw, '{_EMAIL}', 0))").alias("n_emails"),
        F.regexp_replace("raw", _EMAIL, "<EMAIL>").alias("s1"),
    )
    y = x.select(
        "event_type",
        "n_emails",
        F.expr(f"size(regexp_extract_all(s1, '{_DIGITS}', 0))").alias("n_nums"),
        F.regexp_replace("s1", _DIGITS, "<NUM>").alias("redacted"),
    )
    return (
        y.groupBy("event_type", "redacted")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("n_emails").alias("total_emails"),
            F.sum("n_nums").alias("total_nums"),
        )
        .orderBy("event_type", "redacted")
    )
