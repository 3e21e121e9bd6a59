"""Pure-Python reference results the benchmark checks the program against.

- `stream_reference`: what the reference topology (main + DLQ branches of
  `streaming/topology.py::run_topology`) must leave behind for a list of
  stream files: the validator's rules, the DLQ rows with their reasons,
  duplicate removal, and the windowed aggregate under Structured
  Streaming's watermark rules.  The watermark model is the one
  `streaming/late_fixtures.py::simulate_windowed_counts` pins (late rows
  are filtered against the watermark as of the end of batch N-2), extended
  per (sensor, window) key and with the dedup operator's `ts <= watermark`
  late-row filter, which runs before the aggregate.
- `ServingReference`: the expected answers of the `ServingLayer` reads,
  computed from the events table rows.

Nothing here imports the program.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from collections import defaultdict

from fixtures import StreamLine

NOW = dt.datetime(2024, 1, 20)
MAX_AGE = dt.timedelta(days=14)
EVENT_TYPE_RE = re.compile(r"^[a-z_]+$")
NULL_STRINGS = ("null", "none", "n/a", "")
WINDOW_S = 300
DELAY = dt.timedelta(minutes=1)


def _numeric(v) -> bool:
    if v is None or isinstance(v, bool):
        return False
    try:
        float(str(v).strip())
    except ValueError:
        return False
    return True


def _props_k(props):
    """get_json_object(props, '$.k') as the text Spark would return."""
    if props is None:
        return None
    try:
        k = json.loads(props).get("k")
    except (ValueError, AttributeError):
        return None
    return None if k is None else str(k)


def _parse_ts(s):
    try:
        return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S") if s is not None else None
    except ValueError:
        return None


def failure_reasons(rec: dict) -> list[str]:
    """queries/validation.py::_rules, in rule order."""
    et, value, ts = rec.get("event_type"), rec.get("value"), rec.get("ts")
    out = []
    if rec.get("user_id") is None:
        out.append("missing:user_id")
    if value is None:
        out.append("missing:value")
    if et is None or et.strip().lower() in NULL_STRINGS:
        out.append("missing:event_type")
    if not _numeric(_props_k(rec.get("props"))):
        out.append("bad_type:props.k")
    if et is not None and not EVENT_TYPE_RE.match(et.strip()):
        out.append("bad_format:event_type")
    if value is not None and not 0 <= value <= 100:
        out.append("out_of_range:value")
    if ts is None or not (NOW - MAX_AGE <= ts <= NOW):
        out.append("stale_or_future:ts")
    return out


def stream_reference(files: list[list[StreamLine]]):
    """(aggregates, dlq) for one drain of `files` from empty state.

    aggregates: {(user_id, window_start_epoch_s): (sum, count, min, max,
    max_event_type)}.  dlq: sorted [(event_id, reasons, raw_payload)]."""
    epoch = dt.datetime(1970, 1, 1)
    dlq = []
    aggs: dict[tuple[int, int], list] = {}
    max_ts = None
    wm_after: list[dt.datetime | None] = []
    for n, lines in enumerate(files):
        late_wm = wm_after[n - 2] if n >= 2 else None
        seen: set[tuple[int, int]] = set()
        for line in lines:
            if line.record is None:
                rec = {}
                reasons = ["malformed:json"] + failure_reasons(rec)
                dlq.append((None, ";".join(reasons), line.raw))
                continue
            rec = dict(line.record)
            rec["ts"] = _parse_ts(rec.get("ts"))
            if rec["ts"] is None or rec.get("user_id") is None:
                continue  # parse hygiene drops it (streaming/pipeline.py)
            reasons = failure_reasons(rec)
            if reasons:
                dlq.append((rec.get("event_id"), ";".join(reasons), None))
                continue
            ts = rec["ts"]
            max_ts = ts if max_ts is None or ts > max_ts else max_ts
            if late_wm is not None and ts <= late_wm:
                continue  # late beyond the watermark
            key = (rec["user_id"], rec["event_id"])
            if key in seen:
                continue  # duplicate within the watermark
            seen.add(key)
            secs = int((ts - epoch).total_seconds())
            wkey = (rec["user_id"], secs - secs % WINDOW_S)
            v = float(rec["value"])
            a = aggs.get(wkey)
            if a is None:
                aggs[wkey] = [v, 1, v, v, rec["event_type"]]
            else:
                a[0] += v
                a[1] += 1
                a[2] = min(a[2], v)
                a[3] = max(a[3], v)
                a[4] = max(a[4], rec["event_type"])
        wm_after.append(None if max_ts is None else max_ts - DELAY)
    dlq.sort(key=lambda r: (r[0] is None, r[0] or 0, r[1], r[2] or ""))
    return {k: tuple(v) for k, v in aggs.items()}, dlq


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return a == b or abs(a - b) <= rel * max(abs(a), abs(b), 1.0)


def compare_aggregates(got: dict, want: dict) -> list[str]:
    """Mismatches between the sink's rows and the reference, keyed like
    stream_reference's aggregates (got values: sum, count, min, max, type)."""
    problems = []
    for k in sorted(set(got) | set(want)):
        g, w = got.get(k), want.get(k)
        if g is None or w is None:
            problems.append(f"key {k}: got {g}, want {w}")
        elif not (close(g[0], w[0]) and g[1] == w[1] and close(g[2], w[2]) and close(g[3], w[3]) and g[4] == w[4]):
            problems.append(f"key {k}: got {g}, want {w}")
    return problems


# --- serving ----------------------------------------------------------------


def _status(v: float) -> str:
    return "Faulty" if v > 90 else "Recalibration_needed" if v > 75 else "Working"


class ServingReference:
    """Expected ServingLayer answers over the events rows (dicts with
    event_id, ts (datetime), user_id, event_type, value)."""

    def __init__(self, events: list[dict]):
        self.by_user: dict[int, list[dict]] = defaultdict(list)
        for e in events:
            self.by_user[e["user_id"]].append(e)
        self.events = events

    @staticmethod
    def _latest(rows: list[dict]) -> dict:
        return max(rows, key=lambda e: (e["ts"], e["event_id"]))

    def sensors(self) -> dict[int, tuple]:
        out = {}
        for u, rows in self.by_user.items():
            e = self._latest(rows)
            out[u] = (e["ts"], e["event_id"], e["value"], e["event_type"], _status(e["value"]))
        return out

    def sensor(self, u: int) -> tuple | None:
        rows = self.by_user.get(u)
        if not rows:
            return None
        e = self._latest(rows)
        vals = [r["value"] for r in rows]
        return (e["event_id"], len(rows), max(vals), min(vals), sum(vals) / len(vals))

    def analytics(self, u: int, start: str, end: str, granularity: str) -> dict:
        lo = dt.datetime.fromisoformat(start)
        hi = dt.datetime.fromisoformat(end) + dt.timedelta(days=1)
        buckets: dict[dt.datetime, list[float]] = defaultdict(list)
        for e in self.by_user.get(u, []):
            if lo <= e["ts"] < hi:
                t = e["ts"]
                b = t.replace(minute=0, second=0, microsecond=0)
                if granularity == "daily":
                    b = b.replace(hour=0)
                buckets[b].append(e["value"])
        return {b: (len(v), max(v), min(v), sum(v) / len(v)) for b, v in buckets.items()}

    def health(self, now: dt.datetime) -> tuple:
        latest = max(e["ts"] for e in self.events)
        day_ago = now - dt.timedelta(hours=24)
        recent = [e for e in self.events if day_ago <= e["ts"] < now]
        fresh = (now - latest) // dt.timedelta(microseconds=1) // 1_000_000
        return (latest, len(recent), sum(1 for e in recent if e["value"] > 90), fresh)
