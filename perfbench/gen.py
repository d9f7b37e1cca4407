"""Seeded input generator for the data-plane benchmark.

Every input the benchmark feeds the engine is made here, from the run's
``--seed``, inside the run's own scratch root. Nothing is read from
outside the checkout.

* ``base_events`` makes a fixed table shaped like the engine's test
  ``events`` table (FIXTURES.md part 1).
* ``events_copies`` builds the ingest input: ``copies`` key-shifted
  copies of one fixed events table, each copy row-permuted by the seed.
  The content and size are the same for every seed, so every seed does
  the same work; only the row order changes.
* ``render_payloads`` renders those events as one payload per line in
  the ``json``, ``csv`` and ``grok`` formats that ``ingest_batch``
  parses. ``ingest_stream`` reads the events table itself, as parquet,
  through the ``maprstream`` source.

Same seed, same bytes: every random draw comes from a
``numpy.random.Generator`` seeded from ``(seed, purpose)``, and files
are plain text with no timestamps inside.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

#: Seed of the fixed base content; the run seed only permutes it.
BASE_SEED = 20240101

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

#: Grok pattern of the ``grok`` payload lines (see ``render_payloads``).
GROK_PATTERN = (
    "%{INT:event_id} %{TIMESTAMP_ISO8601:ts} user=%{INT:user_id} "
    "type=%{WORD:event_type} value=%{NUMBER:value} k=%{INT:k}"
)
#: DDL of the parsed ``json`` / ``csv`` payload record.
PAYLOAD_SCHEMA = (
    "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE, k INT"
)
FORMATS = ("json", "csv", "grok")
#: Payload files per format: a landing directory of several files. With
#: Spark's split packing, 8 files make 4 balanced scan tasks at 4 cores
#: where one 11 MB file made 3.
FILES_PER_FORMAT = 8

_US_PER_DAY = 86_400_000_000
_EPOCH_2024 = 19_723 * _US_PER_DAY  # 2024-01-01 in microseconds since 1970


def rng(seed: int, purpose: str) -> np.random.Generator:
    """A generator private to one (seed, purpose) pair."""
    return np.random.default_rng([seed, *purpose.encode()])


def _permuted(table: pa.Table, seed: int, purpose: str) -> pa.Table:
    return table.take(rng(seed, purpose).permutation(table.num_rows))


def base_events(n: int) -> pa.Table:
    """The fixed events content: ``n`` rows shaped like the test
    ``events`` table (ts ascending with event_id, ~67 events per user,
    five event types, two-decimal values, ``props`` = ``{"k": 0..99}``)."""
    r = rng(BASE_SEED, f"events{n}")
    gaps = r.integers(1, 2 * 30 * _US_PER_DAY // n, size=n)
    ts = _EPOCH_2024 + np.cumsum(gaps)
    k = r.integers(0, 100, size=n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(1, n * 3 // 200), size=n), type=pa.int64()),
            "event_type": pa.array(np.asarray(EVENT_TYPES)[r.integers(0, 5, size=n)]),
            "value": pa.array(r.integers(1, 49_003, size=n) / 100.0),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def events_copies(n: int, copies: int, seed: int) -> pa.Table:
    """``copies`` key-shifted copies of ``base_events(n)``; copy ``c``
    shifts ``event_id`` by ``c * 10**9`` and is row-permuted by the seed."""
    base = base_events(n)
    parts = []
    for c in range(copies):
        shifted = base.set_column(
            0, "event_id", pa.array(base["event_id"].to_numpy() + c * 10**9)
        )
        parts.append(_permuted(shifted, seed, f"copy{c}"))
    return pa.concat_tables(parts)


def _ts_text(table: pa.Table) -> list[str]:
    """ISO-8601 text of ``ts`` with a ``T`` separator and microseconds."""
    us = table["ts"].cast(pa.int64()).to_numpy()
    days = us // _US_PER_DAY
    dates = np.datetime_as_string(days.astype("datetime64[D]"))
    rem = us % _US_PER_DAY
    h, rem = divmod(rem, 3_600_000_000)
    m, rem = divmod(rem, 60_000_000)
    s, frac = divmod(rem, 1_000_000)
    return [
        f"{d}T{a:02d}:{b:02d}:{c:02d}.{f:06d}"
        for d, a, b, c, f in zip(dates.tolist(), h.tolist(), m.tolist(), s.tolist(), frac.tolist())
    ]


def payload_columns(events: pa.Table) -> dict[str, list]:
    """The payload fields every format renders, as Python lists."""
    return {
        "event_id": events["event_id"].to_pylist(),
        "ts": _ts_text(events),
        "user_id": events["user_id"].to_pylist(),
        "event_type": events["event_type"].to_pylist(),
        "value": events["value"].to_pylist(),
        "k": [int(p[6:-1]) for p in events["props"].to_pylist()],
    }


def render_payloads(events: pa.Table, out_dir: str) -> dict[str, str]:
    """Write ``events`` as ``FILES_PER_FORMAT`` payload files per format;
    returns ``{format: directory}``. Every format carries the same six
    fields, so one pipeline spec (with casts) yields identical documents."""
    cols = payload_columns(events)
    rows = list(zip(*(cols[c] for c in ("event_id", "ts", "user_id", "event_type", "value", "k"))))
    render = {
        "json": lambda e, t, u, et, v, k: (
            f'{{"event_id":{e},"ts":"{t}","user_id":{u},"event_type":"{et}",'
            f'"value":{v!r},"k":{k}}}'
        ),
        "csv": lambda e, t, u, et, v, k: f"{e},{t},{u},{et},{v!r},{k}",
        "grok": lambda e, t, u, et, v, k: f"{e} {t} user={u} type={et} value={v!r} k={k}",
    }
    bounds = np.linspace(0, len(rows), FILES_PER_FORMAT + 1).astype(int)
    paths = {}
    for fmt in FORMATS:
        d = os.path.join(out_dir, fmt)
        os.makedirs(d, exist_ok=True)
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            with open(os.path.join(d, f"part-{i}.txt"), "w") as fh:
                fh.writelines(render[fmt](*row) + "\n" for row in rows[lo:hi])
        paths[fmt] = d
    return paths
