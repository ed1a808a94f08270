"""Date/time column functions (SURVEY.md section 2.9 F11-F16).

All built-in expressions; the session timezone is pinned UTC
(session.get_spark) so conversions are deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_UTC_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def iso_utc(ts: Column) -> Column:
    """F11: ISO-8601 UTC string (dataingestion1.py:66-67)."""
    return F.date_format(ts, ISO_UTC_FMT)


def utc_to_local_date_time(published_at: Column, tz: str = "Asia/Karachi") -> tuple[Column, Column]:
    """F14: ISO UTC string -> (local date 'yyyy-MM-dd', local time 'HH:mm:ss')
    (dataprocessing3.py:28-43). Empty/malformed input -> ('','').
    """
    ts = F.try_to_timestamp(published_at, F.lit(ISO_UTC_FMT))
    local = F.from_utc_timestamp(ts, tz)
    d = F.coalesce(F.date_format(local, "yyyy-MM-dd"), F.lit(""))
    t = F.coalesce(F.date_format(local, "HH:mm:ss"), F.lit(""))
    return d, t


def seconds_to_hms(seconds: Column) -> Column:
    """F15: seconds -> Python ``str(timedelta)`` 'H:MM:SS' format
    (dataprocessing.py:150). NOTE: hours are NOT zero-padded (1:02:03),
    matching ``str(datetime.timedelta)``; days never appear in the
    reference's data (durations < 24h) so the day form is not emitted.
    """
    s = seconds.cast("long")
    return F.concat_ws(
        ":",
        (s / 3600).cast("long").cast("string"),
        F.lpad(((s % 3600) / 60).cast("long").cast("string"), 2, "0"),
        F.lpad((s % 60).cast("string"), 2, "0"),
    )


def ingest_window(as_of: str) -> tuple[str, str]:
    """F12: the reference's sliding ingest window — [D-4 00:00:00,
    D-3 23:59:59] UTC for run date D (dataingestion1.py:119-123).

    The reference uses wall-clock ``utcnow()``; the engine takes an
    explicit ``as_of`` date string so runs are deterministic and
    replayable (SURVEY section 7 risk register: nondeterminism).
    """
    from datetime import date, timedelta

    d = date.fromisoformat(as_of)
    return (
        f"{d - timedelta(days=4)} 00:00:00",
        f"{d - timedelta(days=3)} 23:59:59",
    )


def in_ingest_window(ts: Column, as_of: str) -> Column:
    """P3: the window as a pushable scan predicate."""
    start, end = ingest_window(as_of)
    return ts.between(F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp"))
