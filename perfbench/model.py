"""The benchmark's pure-Python model of the two tables, and the checks
that compare what Spark returned against it.

The model is the corpus' final key -> delivery state.  Rows coming back
from Spark are first turned into plain tuples (timestamps as epoch
seconds or milliseconds), then compared order-insensitively.  Each check
raises :class:`CheckFailed` with a short description of the first
difference.
"""

from __future__ import annotations

import calendar
import datetime as dt
from collections import Counter

from .cdcgen import Delivery


class CheckFailed(AssertionError):
    pass


def epoch_s(value: dt.datetime | None) -> int | None:
    return None if value is None else calendar.timegm(value.timetuple())


def epoch_ms(value: dt.datetime | None) -> int | None:
    if value is None:
        return None
    return calendar.timegm(value.timetuple()) * 1000 + value.microsecond // 1000


def tracking_tuple(row) -> tuple:
    return (row["oid__id"], row["Op"], epoch_s(row["createdAt"]),
            epoch_s(row["updatedAt"]), epoch_s(row["lastSyncTracker"]),
            row["fileName"])


def event_tuple(row) -> tuple:
    return (row["oid__id"], row["trackingCode"], row["status"],
            row["description"], row["trackerType"], row["from"], row["to"],
            epoch_ms(row["eventCreatedAt"]))


def _key(t: tuple) -> tuple:
    return tuple((v is not None, v) for v in t)


def same_rows(what: str, got: list[tuple], want: list[tuple]) -> None:
    g, w = sorted(got, key=_key), sorted(want, key=_key)
    if g == w:
        return
    extra = Counter(g) - Counter(w)
    missing = Counter(w) - Counter(g)
    raise CheckFailed(
        f"{what}: {len(g)} rows, expected {len(w)}; "
        f"unexpected {list(extra)[:2]}, missing {list(missing)[:2]}"
    )


class TableModel:
    """Expected content of ``tracking`` and ``events`` and of every read."""

    def __init__(self, state: dict[str, Delivery]) -> None:
        self.state = state

    def tracking_rows(self, keys=None) -> list[tuple]:
        keys = self.state if keys is None else [k for k in keys if k in self.state]
        return [self.state[k].tracking_row() for k in keys]

    def event_rows(self, keys=None) -> list[tuple]:
        keys = self.state if keys is None else [k for k in keys if k in self.state]
        return [r for k in keys for r in self.state[k].event_rows()]

    def live_event_rows(self) -> int:
        return sum(max(1, len(d.events)) for d in self.state.values())

    def description_counts(self) -> list[tuple]:
        c = Counter(r[3] for r in self.event_rows())
        return list(c.items())

    # -- the reference's README queries (plans.reference_queries) --------
    def q1_trackings_per_minute(self, limit: int = 1000) -> list[tuple]:
        c = Counter(d.created // 60 * 60 for d in self.state.values())
        return sorted(c.items())[:limit]

    def q2_events_per_tracking_code(self, limit: int = 1000) -> list[tuple]:
        c = Counter(r[1] for r in self.event_rows())
        # count desc, then trackingCode asc with NULL first
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or ""))
        return ranked[:limit]

    def q3_top10_descriptions(self) -> list[tuple]:
        counts = sorted(self.description_counts(), key=lambda kv: -kv[1])
        out, rank = [], 0
        for i, (desc, n) in enumerate(counts):
            if i == 0 or n != counts[i - 1][1]:
                rank = i + 1
            if rank <= 10:
                out.append((desc, n, rank))
        return out

    def q4_tracking_with_events(self) -> list[tuple]:
        return [(k, d.op, len(d.events)) for k, d in self.state.items()]


def ref_query_rows(name: str, rows) -> list[tuple]:
    """Spark result rows of a reference query as comparable tuples."""
    if name == "q1":
        return [(epoch_s(r["minute"]), r["count"]) for r in rows]
    if name == "q2":
        return [(r["trackingCode"], r["count"]) for r in rows]
    if name == "q3":
        return [(r["description"], r["total_events"], r["event_rank"]) for r in rows]
    return [(r["oid__id"], r["Op"], r["n_events"]) for r in rows]


def expected_ref_query(model: TableModel, name: str) -> list[tuple]:
    return {
        "q1": model.q1_trackings_per_minute,
        "q2": model.q2_events_per_tracking_code,
        "q3": model.q3_top10_descriptions,
        "q4": model.q4_tracking_with_events,
    }[name]()
