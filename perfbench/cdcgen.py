"""Seeded, reference-shaped Mongo-CDC CSV corpus with pure-Python ground truth.

Each call to :meth:`CdcCorpus.next_cycle` writes the next batch of files
into one growing landing directory, the way the reference's extractor
drops ``YYYYMMDD-HHMMSSmmm.csv`` files for the loader to pick up.  The
corpus mirrors the reference's shape:

- ``array_trackingEvents`` is a Python ``repr`` of a list of event dicts,
  mean ~10 events per row, 0 to 88;
- about 12% of rows redeliver a key seen before, some within the same
  file, with recently delivered keys more likely;
- ``Op`` is ``U`` for 99% of rows;
- descriptions include a tab, a double quote and an apostrophe.

File names are fixed-width timestamps that advance with every file, so
lexicographic order is chronological for any number of files (the high
water mark compares names as strings).

Ground truth is tracked as the files are written: the rows each cycle
should merge into ``tracking`` and ``events``, and the final key -> row
state after keep-last dedup and replace-by-key merges.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
from dataclasses import dataclass

DESCRIPTIONS = [
    "Objeto postado",
    "Objeto em trânsito - por favor aguarde",
    "Objeto saiu para entrega ao destinatário",
    "A entrega não pode ser efetuada - endereço incorreto",
    "Objeto entregue ao\tdestinatário",
    "Objeto aguardando retirada no endereço indicado - prazo d'entrega",
    'Solicitação de "suspensão" da entrega',
]
STATUSES = ["101", "23", "505", None]
HEADER = ["Op", "oid__id", "createdAt", "updatedAt", "lastSyncTracker",
          "array_trackingEvents"]
BASE_EPOCH = 1_693_000_000
#: share of rows that redeliver a key seen before
REDELIVER_FRAC = 0.12
FIRST_FILE_AT = dt.datetime(2023, 9, 10, 13, 0, 0)

#: (trackingCode, status, description, trackerType, from, to,
#: eventCreatedAt epoch ms) — the ``events`` columns the loader derives.
Event = tuple


@dataclass(frozen=True)
class Delivery:
    """One CDC row as written, plus where it landed."""

    key: str
    op: str
    created: int
    updated: int
    last_sync: int
    events: tuple
    file_name: str

    def tracking_row(self) -> tuple:
        return (self.key, self.op, self.created, self.updated,
                self.last_sync, self.file_name)

    def event_rows(self) -> list[tuple]:
        """The loader's ``explode_outer``: an empty array is one
        all-null event row."""
        if not self.events:
            return [(self.key,) + (None,) * 7]
        return [(self.key,) + ev for ev in self.events]


@dataclass(frozen=True)
class CycleTruth:
    files: list
    tracking_rows: int
    event_rows: int
    new_csv_bytes: int


def file_name(index: int) -> str:
    """Name of the ``index``-th file: minutes apart, never wrapping."""
    at = FIRST_FILE_AT + dt.timedelta(minutes=37 * index, milliseconds=index % 1000)
    return at.strftime("%Y%m%d-%H%M%S") + f"{at.microsecond // 1000:03d}.csv"


class CdcCorpus:
    """Deterministic corpus: the same seed and the same sequence of
    calls give byte-identical files and identical truth."""

    def __init__(self, seed: int, rows_per_file: int, files_per_cycle: int) -> None:
        self.rng = random.Random(seed)
        self.rows_per_file = rows_per_file
        self.files_per_cycle = files_per_cycle
        self.n_files = 0
        self.keys: list[str] = []  # every key, in first-delivery order
        self.state: dict[str, Delivery] = {}  # final key -> latest delivery

    # -- random pieces -----------------------------------------------------
    def _hex(self) -> str:
        return f"{self.rng.getrandbits(128):032x}"

    def event_counts(self, n: int) -> list[int]:
        """Events per row for ``n`` rows: a fixed multiset (3% empty
        arrays, one 88-event row per 250, the rest cycling 1..19, mean
        ~10) in seeded order, so the event volume of a file or batch does
        not depend on the seed."""
        zeros, long_rows = round(0.03 * n), n // 250
        rest = n - zeros - long_rows
        counts = [0] * zeros + [88] * long_rows + [1 + i % 19 for i in range(rest)]
        self.rng.shuffle(counts)
        return counts

    def recent_key(self, rng: random.Random | None = None) -> str:
        """A delivered key, skewed toward the most recent ones.  Pass
        ``rng`` to draw without advancing the corpus' own generator."""
        n = len(self.keys)
        back = int((rng or self.rng).expovariate(1.0 / max(1.0, 0.1 * n)))
        return self.keys[n - 1 - min(back, n - 1)]

    def new_key(self) -> str:
        key = self._hex()
        self.keys.append(key)
        return key

    def make_delivery(self, key: str, name: str, n_events: int) -> Delivery:
        rng = self.rng
        created = BASE_EPOCH + rng.randrange(0, 10_000_000)
        events = tuple(
            (self._hex(), rng.choice(STATUSES), rng.choice(DESCRIPTIONS),
             self._hex(), self._hex(), self._hex(), (created + k * 3600) * 1000)
            for k in range(n_events)
        )
        return Delivery(
            key=key,
            op="U" if rng.random() < 0.99 else "I",
            created=created,
            updated=created + rng.randrange(0, 1_000_000),
            last_sync=created + rng.randrange(0, 500_000),
            events=events,
            file_name=name,
        )

    # -- cycles ------------------------------------------------------------
    def next_cycle(self, landing_dir: str, n_files: int | None = None) -> CycleTruth:
        """Write the next ``n_files`` (default ``files_per_cycle``) files;
        return what one ``incremental_load`` over them must merge."""
        os.makedirs(landing_dir, exist_ok=True)
        batch: dict[str, Delivery] = {}  # keep-last within the cycle
        names, new_bytes = [], 0
        for _ in range(n_files or self.files_per_cycle):
            name = file_name(self.n_files)
            self.n_files += 1
            in_file: list[str] = []
            rows = []
            for n_events in self.event_counts(self.rows_per_file):
                if self.keys and self.rng.random() < REDELIVER_FRAC:
                    if in_file and self.rng.random() < 0.25:
                        key = self.rng.choice(in_file)
                    else:
                        key = self.recent_key()
                else:
                    key = self.new_key()
                in_file.append(key)
                d = self.make_delivery(key, name, n_events)
                batch[key] = d
                rows.append(d)
            path = os.path.join(landing_dir, name)
            with open(path, "w", newline="", encoding="utf-8") as fh:
                w = csv.writer(fh)
                w.writerow(HEADER)
                for d in rows:
                    w.writerow([d.op, d.key, d.created, d.updated, d.last_sync,
                                repr([_event_dict(ev) for ev in d.events])])
            new_bytes += os.path.getsize(path)
            names.append(name)
        self.state.update(batch)
        return CycleTruth(
            files=names,
            tracking_rows=len(batch),
            event_rows=sum(max(1, len(d.events)) for d in batch.values()),
            new_csv_bytes=new_bytes,
        )


def _event_dict(ev: Event) -> dict:
    code, status, desc, tracker, frm, to, at_ms = ev
    return {
        "createdAt": {"$date": at_ms},
        "trackingCode": code,
        "status": status,
        "description": desc,
        "trackerType": tracker,
        "from": frm,
        "to": to,
    }
