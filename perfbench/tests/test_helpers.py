"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import metrics as M  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from spans import Span, Tracer, self_time_by_name, self_times  # noqa: E402

# ---- percentile rule ---------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 101)]
    assert M.percentile(values, 90) == 90.0  # 10 samples lie beyond rank 90
    with pytest.raises(ValueError, match="99 samples leave 9"):
        M.percentile(values[:99], 90)


def test_tail_is_the_highest_supported_percentile():
    assert M.tail([float(i) for i in range(1000)]) == (99.0, 989.0)
    assert M.tail([float(i) for i in range(100)])[0] == 90.0
    assert M.tail([1.0] * 20) is None


def test_describe_reports_sample_count():
    assert "n=3" in M.describe([1.0, 2.0, 3.0])
    assert "p50 2.0000" in M.describe([1.0, 2.0, 3.0])
    assert "p90" in M.describe([float(i) for i in range(100)])
    assert M.describe([]) == "n=0"


def test_median_over_ops_weighs_each_operation_once():
    # six fast micro-batches of one pipeline do not outvote two slow ones
    many_fast = {"enqueue": [0.5] * 6, "k_anon_gate": [2.0, 3.0]}
    assert run._median_over_ops(many_fast) == (0.5 + 2.5) / 2
    assert run._median_over_ops({"a": [1.0, 9.0, 2.0], "b": [4.0], "c": [7.0]}) == 4.0
    assert run._median_over_ops({"a": [], "b": [4.0]}) == 4.0
    assert run._median_over_ops({"a": []}) == 0.0


def test_share_metrics_are_ratios():
    for name in ("plans.build_share", "catalyst.plan_share", "exec.share"):
        assert run.unit_of(name) == "ratio"
    assert run.unit_of("exec.jobs") == "count"


# ---- metric names -------------------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "exec.shuffle_read_bytes", "a-b.c_9"])
def test_good_names(name):
    assert M.check_name(name) == name


@pytest.mark.parametrize("name", ["", "a b", "rows/s", "x" * 65, "é"])
def test_bad_names(name):
    with pytest.raises(ValueError):
        M.check_name(name)


def test_reported_names_follow_the_rule():
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        M.check_name(name)
    assert len(set(run.PER_LAYER)) == len(run.PER_LAYER)


# ---- /proc readers ------------------------------------------------------


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0, start=0):
    # fields 3.. of /proc/<pid>/stat: state, ppid, pgrp, session, tty,
    # tpgid, flags, minflt, cminflt, majflt, cmajflt, utime, stime,
    # cutime, cstime, priority, nice, threads, itrealvalue, starttime
    rest = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
            20, 0, 1, 0, start, 0]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


@pytest.fixture
def fake_proc(tmp_path):
    tick = procfs.CLK_TCK
    procs = {
        1: ("init", 0, 0, 0, 0, 0),
        10: ("java", 1, 50 * tick, 5 * tick, 0, 0),
        11: ("python3 (daemon) x", 10, tick, tick, 3 * tick, tick),  # reaped workers
        12: ("python3", 11, 2 * tick, 0, 0, 0),
        20: ("other", 1, 99 * tick, 0, 0, 0),
    }
    for pid, (comm, ppid, ut, st, cut, cst) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, ut, st, cut, cst, start=100 * tick))
        (d / "status").write_text("Name:\tx\nVmPeak:\t 9000 kB\nVmHWM:\t  204800 kB\n")
    (tmp_path / "uptime").write_text("250.50 900.00\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_descendants_walk_the_tree(fake_proc):
    assert sorted(procfs.descendants(10, fake_proc)) == [11, 12]
    assert procfs.parent_pid(11, fake_proc) == 10  # name holds spaces and ')'


def test_tree_cpu_counts_live_and_reaped_descendants(fake_proc):
    # daemon 1+1 own + 3+1 reaped, worker 2: the JVM's own 55 s excluded
    assert procfs.tree_cpu_seconds(10, fake_proc) == pytest.approx(8.0)
    assert procfs.cpu_seconds(11, fake_proc) == pytest.approx(6.0)


def test_peak_rss_and_age(fake_proc):
    assert procfs.peak_rss_mb(10, fake_proc) == 200.0
    assert procfs.age_seconds(10, fake_proc) == pytest.approx(150.5)


def test_real_proc_self():
    sum(i * i for i in range(300_000))
    assert procfs.cpu_seconds("self") > 0
    assert procfs.peak_rss_mb("self") > 1
    assert 0 < procfs.age_seconds() < 24 * 3600


# ---- spans ----------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "pass", None, 0.0, 10.0),
        Span(1, "query", 0, 1.0, 3.0),
        Span(2, "query", 0, 2.0, 5.0),  # overlaps the first child
        Span(3, "query", 0, 8.0, 12.0),  # runs past its parent's end
        Span(4, "plans.build", 1, 1.0, 2.5),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 1.5)
    assert st[4] == pytest.approx(1.5)
    assert self_time_by_name(spans)["query"] == pytest.approx(0.5 + 3.0 + 4.0)


def test_tracer_nests_and_shares_ids(tmp_path):
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)), workload="w")
    with tr.span("pass", pass_id=1):
        with tr.span("query", query="q") as q:
            with tr.span("exec.write"):
                pass
    p, q2, e = tr.spans
    assert (p.parent, q2.parent, e.parent) == (None, p.id, q2.id)
    assert e.ids == {"workload": "w", "pass_id": 1, "query": "q"}
    assert q is q2 and q.duration == 3.0
    path = tmp_path / "spans.jsonl"
    tr.write(str(path))
    assert len(path.read_text().splitlines()) == 3


# ---- correctness checks -------------------------------------------------


@pytest.fixture(scope="module")
def checker(tmp_path_factory):
    c = check.OracleChecker(run.ROOT, run.SF_DIR, run.TABLES, str(tmp_path_factory.mktemp("duck")))
    yield c
    c.close()


SQL = (
    "SELECT n_regionkey AS region, count(*)::BIGINT AS n, "
    "sum(n_nationkey)::DOUBLE AS s FROM nation GROUP BY 1"
)


def _as_result(c, tbl):
    cols = tbl.column_names
    classes = {f.name: c.gate._arrow_class(f.type) for f in tbl.schema}
    rows = [tuple(d[k] for k in cols) for d in tbl.to_pylist()]
    return cols, classes, rows


def test_oracle_accepts_matching_result(checker):
    cols, classes, rows = _as_result(checker, checker.con.execute(SQL).fetch_arrow_table())
    assert len(rows) == 5
    assert checker.check(SQL, cols, classes, list(reversed(rows))) == []


def test_oracle_flags_a_corrupted_result(checker):
    cols, classes, rows = _as_result(checker, checker.con.execute(SQL).fetch_arrow_table())
    bad = list(rows)
    bad[0] = (bad[0][0], bad[0][1] + 1, bad[0][2])
    assert checker.check(SQL, cols, classes, bad) == ["values differ from oracle"]
    assert "row count 4 vs oracle 5" in checker.check(SQL, cols, classes, rows[1:])
    wrong_type = {**classes, "n": "float"}
    assert checker.check(SQL, cols, wrong_type, rows) == ["type of n: float vs oracle int"]


def test_rows_only_query_must_not_be_empty(checker):
    assert checker.check(None, ["a"], {"a": "int"}, [(1,)]) == []
    assert checker.check(None, ["a"], {"a": "int"}, []) != []


def test_stream_inputs_follow_the_seed(tmp_path):
    a = W.make_stream_inputs(7, str(tmp_path / "a"))
    b = W.make_stream_inputs(7, str(tmp_path / "b"))
    c = W.make_stream_inputs(8, str(tmp_path / "c"))
    assert a["expected"] == b["expected"] and a["input_bytes"] == b["input_bytes"]
    assert a["expected"] != c["expected"]
    assert len(os.listdir(a["links_dir"])) == len(os.listdir(a["gate_dir"])) == W.STREAM_FILES
    gate = a["expected"]["k_anon_gate"]
    assert len(gate) == W.SAMPLE_ROWS
    assert any(r[4] for r in gate) and not all(r[4] for r in gate)


def test_link_stream_is_the_events_table_with_re_pastes(tmp_path):
    inputs = W.make_stream_inputs(7, str(tmp_path))
    events = pq.read_table(W.EVENTS).to_pylist()
    by_id = {e["event_id"]: e for e in events}
    expected = inputs["expected"]["enqueue"]
    assert len(expected) == W.SAMPLE_ROWS
    for sheet, row, url in expected:
        e = by_id[row]
        assert (sheet, url) == (e["event_type"], f"https://jobs.lever.co/{e['user_id']}/{row}")
    files = [
        pq.read_table(os.path.join(inputs["links_dir"], f)).to_pylist()
        for f in sorted(os.listdir(inputs["links_dir"]))
    ]
    assert sum(map(len, files)) > W.SAMPLE_ROWS  # some keys are pasted again
    # a key's first paste is never older than anything already read, so
    # the one-hour dedup watermark drops only re-pastes
    seen, newest = set(), None
    for rows in files:
        first = [r for r in rows if (r["sheet_name"], r["row_index"]) not in seen]
        if newest is not None:
            assert min(r["edited_at"] for r in first) >= newest
        seen |= {(r["sheet_name"], r["row_index"]) for r in rows}
        newest = max(r["edited_at"] for r in rows)


def test_sink_check_flags_missing_and_duplicated_rows(tmp_path):
    cols = ["k", "v"]
    expected = [(1, "a"), (2, "b")]
    sink = tmp_path / "sink"
    sink.mkdir()
    pq.write_table(pa.table({"k": [2, 1], "v": ["b", "a"]}), str(sink / "part-0.parquet"))
    (sink / "_spark_metadata").mkdir()
    assert check.check_sink(str(sink), expected, cols) == []
    pq.write_table(pa.table({"k": [2], "v": ["b"]}), str(sink / "part-1.parquet"))
    assert check.check_sink(str(sink), expected, cols) == ["sink has 3 rows, expected 2"]
    assert check.check_sink(str(sink), [(1, "a"), (2, "b"), (3, "c")], cols) == [
        "sink rows differ from expected"
    ]


def test_run_refuses_a_directory_without_the_program(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "iterative", "--seed", "1", "--seconds", "1"]) == 2
