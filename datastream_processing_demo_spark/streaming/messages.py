"""Fixed-width message synthesis + parsing.

Layout (reference DataStreamProcessingJob.java:47-63; SURVEY.md §1.1):

    bytes [0,16)   module_name, space padded
    bytes [16,32)  send_time epoch millis, space padded digits
    bytes [32,64)  reserved filler (never read)
    bytes [64,..)  opaque payload tail

Messages of length <= 64 are structurally invalid and dropped from the
parsed path (reference :47-50). Parsing uses 1-based Spark substring
(the reference's Java substring(0,16) == Spark substring(value,1,16)).

Synthesis derives messages deterministically from the driver's `events`
table so parse results are oracle-checkable: module := event_type with
'purchase' mapped to 'session' (exercising the session routing path of
reference :55), send_time := epoch_ms(ts), payload := props JSON —
except every 97th event gets an empty payload (=> invalid length) and
every 101st gets the literal payload 'error' (exercising the CTSDB
sink's error-drop, CTSDBSink.java:120-123).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import (
    MSG_HEADER_LEN,
    MSG_MIN_VALID_LEN,
    MSG_MODULE_LEN,
    MSG_SEND_TIME_LEN,
    SESSION_MODULE,
)

# --- synthesis ---------------------------------------------------------

def message_value_column() -> Column:
    """Build the fixed-width `value` string from an events-shaped row."""
    module = F.when(F.col("event_type") == "purchase", F.lit(SESSION_MODULE)) \
        .otherwise(F.col("event_type"))
    send_ms = F.unix_millis(F.col("ts")).cast("string")
    payload = (
        F.when(F.col("event_id") % 97 == 0, F.lit(""))          # invalid (len==64)
        .when(F.col("event_id") % 101 == 0, F.lit("error"))     # sink-dropped
        .otherwise(F.col("props"))
    )
    return F.concat(
        F.rpad(module, MSG_MODULE_LEN, " "),
        F.rpad(send_ms, MSG_SEND_TIME_LEN, " "),
        F.repeat(F.lit(" "), MSG_HEADER_LEN - MSG_MODULE_LEN - MSG_SEND_TIME_LEN),
        payload,
    )


ORACLE_MESSAGE_VALUE_SQL = """
    concat(
        rpad(CASE WHEN event_type = 'purchase' THEN 'session' ELSE event_type END, 16, ' '),
        rpad(CAST(epoch_ms(ts) AS VARCHAR), 16, ' '),
        repeat(' ', 32),
        CASE WHEN event_id % 97 = 0 THEN ''
             WHEN event_id % 101 = 0 THEN 'error'
             ELSE props END)
""".strip()


def messages_from_events(events: DataFrame) -> DataFrame:
    """events table -> DataFrame[value: string] (one message per event)."""
    return events.select(message_value_column().alias("value"))


# --- parsing (reference P2/P3/P5 semantics) ----------------------------

def message_fields(value_col: str = "value") -> dict[str, Column]:
    """The fixed-width carve-out as column expressions over `value_col`:
    `valid` (the P2 length guard, :47-50), `module_name`, `send_ts_ms`
    (NULL if garbage — engine policy is try_cast where the reference
    would crash, SURVEY.md §7.4) and `payload`. Shared by
    `parse_messages` and the pipeline's routing projection, so batch and
    stream parse the same way."""
    v = F.col(value_col)
    return {
        "valid": F.length(v) > MSG_HEADER_LEN,
        "module_name": F.trim(F.substring(v, 1, MSG_MODULE_LEN)),
        "send_ts_ms": F.trim(F.substring(v, MSG_MODULE_LEN + 1,
                                         MSG_SEND_TIME_LEN))
            .try_cast("long"),
        "payload": F.expr(f"substring({value_col}, {MSG_MIN_VALID_LEN})"),
    }


def parse_messages(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse the fixed-width layout into typed columns, dropping
    structurally-invalid records (length <= 64).

    Columns out: module_name STRING, send_ts_ms LONG, payload STRING,
    plus the original raw value (see `message_fields`).
    """
    f = message_fields(value_col)
    return raw.filter(f["valid"]).select(
        f["module_name"].alias("module_name"),
        f["send_ts_ms"].alias("send_ts_ms"),
        f["payload"].alias("payload"),
        F.col(value_col).alias("value"),
    )
