"""Tests of the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pytest

import checks
import gen
import stats

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- percentiles and tail selection ------------------------------------------


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 75) == 4.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_samples_beyond_counts_past_interpolation_position():
    # 40 samples: p75 sits at position 29.25, so samples 30..39 lie beyond it
    assert stats.samples_beyond(40, 75) == 10
    assert stats.samples_beyond(39, 75) == 10
    assert stats.samples_beyond(24, 75) == 6
    assert stats.samples_beyond(21, 50) == 10
    assert stats.samples_beyond(0, 50) == 0


@pytest.mark.parametrize(
    "n, pct",
    [(5, None), (19, None), (20, 50), (37, 50), (38, 75), (91, 75), (92, 90), (200, 95),
     (1000, 99)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


# -- self time from prefix differences ---------------------------------------


def test_self_times_difference_consecutive_prefixes():
    assert stats.self_times([1.0, 1.5, 3.0]) == pytest.approx([1.0, 0.5, 1.5])
    assert sum(stats.self_times([0.2, 0.9, 1.4, 2.0])) == pytest.approx(2.0)


def test_self_times_clamp_noise_to_zero():
    assert stats.self_times([1.0, 0.8, 2.0]) == pytest.approx([1.0, 0.0, 1.2])


# -- union of job intervals and the driver gap --------------------------------


def test_union_length_merges_overlaps_and_clips():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert stats.union_length([(0, 2), (1, 3), (5, 6)], lo=1.5, hi=5.5) == pytest.approx(2.0)
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(3, 1)]) == 0.0


def test_driver_gap_is_wall_minus_union_of_jobs():
    # wall 10 s; jobs cover [1, 4] (two overlapping) and [6, 7]: busy 4 s
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]
    assert stats.driver_gap((0.0, 10.0), jobs) == pytest.approx(6.0)
    # a job running past the span only counts inside it
    assert stats.driver_gap((0.0, 10.0), [(8.0, 12.0)]) == pytest.approx(8.0)
    assert stats.driver_gap((0.0, 10.0), []) == pytest.approx(10.0)


# -- generator determinism ----------------------------------------------------


def _digest_tree(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_same_bytes(tmp_path):
    for run in ("a", "b"):
        events = gen.events_copies(2_000, 2, seed=7)
        gen.render_payloads(events, str(tmp_path / run))
        checks.write_parquet(events, str(tmp_path / run / "events.parquet"))
    assert _digest_tree(str(tmp_path / "a")) == _digest_tree(str(tmp_path / "b"))


def test_different_seed_gives_same_rows_in_another_order(tmp_path):
    a = gen.events_copies(2_000, 2, seed=7)
    b = gen.events_copies(2_000, 2, seed=8)
    assert a["event_id"].to_pylist() != b["event_id"].to_pylist()
    assert sorted(a.to_pylist(), key=lambda r: r["event_id"]) == sorted(
        b.to_pylist(), key=lambda r: r["event_id"]
    )
    pa_, pb = gen.render_payloads(a, str(tmp_path / "a")), gen.render_payloads(b, str(tmp_path / "b"))
    for fmt in gen.FORMATS:
        la, lb = _lines(pa_[fmt]), _lines(pb[fmt])
        assert la != lb and sorted(la) == sorted(lb)


def test_copies_are_key_shifted_and_unique():
    t = gen.events_copies(1_000, 3, seed=1)
    ids = t["event_id"].to_pylist()
    assert len(ids) == len(set(ids)) == 3_000
    assert max(ids) == 2 * 10**9 + 999


def _lines(payload_dir: str) -> list[str]:
    files = sorted(os.listdir(payload_dir), key=lambda f: int(f.split("-")[1].split(".")[0]))
    assert len(files) == gen.FILES_PER_FORMAT
    out = []
    for f in files:
        with open(os.path.join(payload_dir, f)) as fh:
            out += fh.read().splitlines()
    return out


def test_payload_files_hold_every_row_once(tmp_path):
    events = gen.events_copies(1_001, 1, seed=3)
    paths = gen.render_payloads(events, str(tmp_path))
    for fmt in gen.FORMATS:
        assert len(_lines(paths[fmt])) == 1_001


def test_payload_formats_carry_the_same_fields(tmp_path):
    events = gen.events_copies(50, 1, seed=3)
    paths = gen.render_payloads(events, str(tmp_path))
    first = {f: _lines(paths[f])[0] for f in gen.FORMATS}
    rec = json.loads(first["json"])
    assert first["csv"].split(",") == [
        str(rec[k]) for k in ("event_id", "ts", "user_id", "event_type", "value", "k")
    ]
    assert first["grok"] == (
        f"{rec['event_id']} {rec['ts']} user={rec['user_id']} type={rec['event_type']} "
        f"value={rec['value']} k={rec['k']}"
    )


# -- output checks ------------------------------------------------------------


def _write_doc_table(events_path: str, out_dir: str, doc_sql: str, limit: str = "") -> None:
    os.makedirs(out_dir)
    duckdb.sql(
        f"COPY (SELECT CAST(event_id AS VARCHAR) AS _id, {doc_sql} AS doc "
        f"FROM read_parquet('{events_path}') WHERE {checks._KEEP} {limit}) "
        f"TO '{out_dir}/part-0.parquet' (FORMAT parquet)"
    )


def test_stream_check_catches_truncated_delivery(tmp_path):
    """A stream that delivers only its first micro-batch (the shape of
    the ``availableNow`` + ``rowsPerBatch`` truncation) must fail."""
    events = gen.events_copies(4_000, 1, seed=5)
    path = str(tmp_path / "events.parquet")
    checks.write_parquet(events, path)
    want = checks.expected_stream_docs(path)
    _write_doc_table(path, str(tmp_path / "full"), checks._STREAM_DOC)
    _write_doc_table(path, str(tmp_path / "cut"), checks._STREAM_DOC, "LIMIT 400")
    assert checks.doc_table_digest(str(tmp_path / "full")) == want
    assert checks.doc_table_digest(str(tmp_path / "cut")) != want
    assert checks.doc_table_digest(str(tmp_path / "missing")) == (0, 0)


def test_batch_check_catches_a_changed_document(tmp_path):
    events = gen.events_copies(1_000, 1, seed=5)
    path = str(tmp_path / "events.parquet")
    checks.write_parquet(events, path)
    out = tmp_path / "docs"
    _write_doc_table(path, str(out), checks._BATCH_DOC.replace('"k":', '"K":'))
    n, _ = checks.expected_batch_docs(path)
    assert checks.doc_table_digest(str(out))[0] == n
    assert checks.doc_table_digest(str(out)) != checks.expected_batch_docs(path)


# -- the metric catalog matches BENCHMARK.json --------------------------------


def test_catalog_matches_benchmark_json():
    import run
    import workloads

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == workloads.per_layer_metrics()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
