"""Time scalar functions and copy-window math.

Covers the reference's entire scalar-function surface (SURVEY §2.7):

- X1/X2 ``UnixNano2Time``/``StrUnixNano2Time``
  (pkg/agent/client.go:312-327): ns-epoch → timestamp. Spark
  timestamps are µs-precision, so the canonical representation of a
  point time at full fidelity is a ``time_ns`` LongType column; the
  timestamp view is derived (and truncates ns→µs, documented). X2's
  string input is ``unixnano_to_ts(c.cast("long"))``.
- X3 ``parseInputTime`` (pkg/util.go:9-28): CLI-style time strings.
- X4 ``RetPol.GetFirstLastTime`` (pkg/agent/client.go:24-38): copy
  window from retention duration with infinite-RP clamping.
- C1 chunk math (pkg/agent/sync.go:118-146): split a window into
  newest-first chunks, clamped to the max retention interval — but
  half-open [start, end) so boundary points are never lost
  (the reference's exclusive-both-ends bounds drop them, SURVEY §4).
"""

from __future__ import annotations

import math
import re
from datetime import datetime, timedelta, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

NS_PER_SEC = 1_000_000_000
US_PER_SEC = 1_000_000

# ---------------------------------------------------------------------------
# Column-level (distributed) functions
# ---------------------------------------------------------------------------


def ns_to_us(col: Column | str) -> Column:
    """THE ns-epoch → µs-epoch conversion (int64 → int64, truncating
    toward zero like SQL ``div``). Every ns→µs path in the engine —
    X1 below and the source loaders — rides this one helper so two
    formulations can never drift apart. Integer ``div`` (not ``/``):
    ns epochs (~1.7e18) exceed double's 53-bit mantissa, so float
    division corrupts the low microsecond."""
    c = F.col(col) if isinstance(col, str) else col
    return F.call_function("div", c, F.lit(1000))


def unixnano_to_ts(col: Column | str) -> Column:
    """X1: int64 ns-epoch → TimestampType (µs precision).

    Reference parse: sec = t / 1e9, nsec = t % 1e9
    (pkg/agent/client.go:312-316). Spark keeps µs, so the sub-µs part
    truncates; keep the original long column when ns fidelity matters.
    ``timestamp_micros`` is a JVM intrinsic — whole-stage codegen, no
    UDF.
    """
    return F.timestamp_micros(ns_to_us(col))


def time_bucket(col: Column | str, width_seconds: int) -> Column:
    """Floor a timestamp to a fixed-width bucket (the engine-side view
    of the reference's chunk boundaries, pkg/agent/sync.go:144-146).
    Pure arithmetic on unix seconds → codegen-friendly, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    secs = F.unix_timestamp(c)
    return F.timestamp_seconds((secs - secs % F.lit(width_seconds)))


# ---------------------------------------------------------------------------
# Driver-side window math (no Spark involvement — mirrors reference logic)
# ---------------------------------------------------------------------------

_DURATION_RE = re.compile(r"^(\d+(?:\.\d+)?)(ns|us|µs|u|µ|ms|s|m|h|d|w)$")
_DURATION_UNITS = {
    "ns": 1e-9,
    "us": 1e-6,
    "µs": 1e-6,
    "u": 1e-6,  # InfluxQL spells microseconds 'u' (and 'µ') as well
    "µ": 1e-6,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "d": 86400.0,
    "w": 604800.0,
}


def parse_duration(s: str | float | int | timedelta) -> timedelta:
    """Parse Go-style duration strings ('5m', '8760h', '10s', also
    compound like '1h30m') used throughout the reference config
    (conf/sample.syncflux.toml:99,107)."""
    if isinstance(s, timedelta):
        return s
    if isinstance(s, (int, float)):
        return timedelta(seconds=float(s))
    total = 0.0
    rest = s.strip()
    if not rest:
        raise ValueError("empty duration")
    pattern = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|u|µ|ms|s|m|h|d|w)")
    pos = 0
    for m in pattern.finditer(rest):
        if m.start() != pos:
            raise ValueError(f"bad duration: {s!r}")
        total += float(m.group(1)) * _DURATION_UNITS[m.group(2)]
        pos = m.end()
    if pos != len(rest):
        raise ValueError(f"bad duration: {s!r}")
    try:
        return timedelta(seconds=total)
    except OverflowError:
        # timedelta caps at ~2.7e6 days; beyond that the duration is
        # garbage input, not a representable window — reject, don't
        # crash (this reaches the /query front-end via GROUP BY time)
        raise ValueError(f"duration out of range: {s!r}") from None


def parse_input_time(s: str, now: datetime | None = None) -> datetime:
    """X3 (pkg/util.go:9-28): integer → epoch seconds; leading '-' →
    now - duration (relative); else RFC3339."""
    now = now or datetime.now(timezone.utc)
    s = s.strip()
    if re.fullmatch(r"[+-]?\d+", s):
        return datetime.fromtimestamp(int(s), tz=timezone.utc)
    if s.startswith("-"):
        return now - parse_duration(s[1:])
    if s.startswith("+"):
        return now + parse_duration(s[1:])
    out = datetime.fromisoformat(s.replace("Z", "+00:00"))
    if out.tzinfo is None:
        out = out.replace(tzinfo=timezone.utc)
    return out


def copy_window(
    duration: timedelta | str | None,
    max_retention: timedelta | str,
    now: datetime | None = None,
) -> tuple[datetime, datetime]:
    """X4 ``GetFirstLastTime`` (pkg/agent/client.go:24-38): the window
    for a full copy of one retention policy. ``duration`` None/0 means
    infinite retention → clamp to ``max_retention``
    (default 8760h, conf/sample.syncflux.toml:107).
    """
    now = now or datetime.now(timezone.utc)
    maxret = parse_duration(max_retention)
    dur = parse_duration(duration) if duration else timedelta(0)
    if dur <= timedelta(0) or dur > maxret:
        dur = maxret
    return now - dur, now


def chunk_windows(
    start: datetime,
    end: datetime,
    chunk: timedelta | str,
    max_retention: timedelta | str | None = None,
) -> list[tuple[datetime, datetime]]:
    """C1 chunk math (pkg/agent/sync.go:118-146): split [start, end)
    into newest-first half-open chunks of ``chunk`` width, clamping the
    total number of chunks so the window never exceeds
    ``max_retention`` (sync.go:122-126).

    Differences from the reference (deliberate, SURVEY §4 quirks):
    - half-open [s, e) bounds — no lost boundary points;
    - no truncation to whole seconds — full timestamp precision.
    """
    chunk_td = parse_duration(chunk)
    if chunk_td <= timedelta(0):
        raise ValueError("chunk must be positive")
    if end <= start:
        return []
    n = math.ceil((end - start) / chunk_td)
    if max_retention is not None:
        maxret = parse_duration(max_retention)
        max_chunks = int(maxret / chunk_td) + 1
        n = min(n, max_chunks)
    out = []
    for i in range(n):
        e = end - i * chunk_td
        s = max(start, e - chunk_td)
        out.append((s, e))
    return out
