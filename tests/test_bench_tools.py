"""Bench tooling: the two-line bench.py stdout (the bounded
``headline_queries_detail`` line, then the contract line) and the
bench_compare loader that consumes it, including driver BENCH_r*.json
wrappers whose "tail" may hold several payload lines, the first one
possibly cut mid-JSON."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path


def _load_module():
    spec = importlib.util.spec_from_file_location(
        "bench_compare_m",
        Path(__file__).resolve().parents[1] / "scripts" / "bench_compare.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_loader_prefers_last_detailed_payload(tmp_path):
    mod = _load_module()
    detail_old = {"metric": "headline_queries_detail", "value": 9.9, "queries": {"q": 9.9}}
    detail_new = {"metric": "headline_queries_detail", "value": 1.0, "queries": {"q": 1.0}}
    compact = {"metric": "headline_queries_total", "value": 1.0, "n_queries": 1}
    tail = "\n".join(
        ["noise", json.dumps(detail_old), json.dumps(detail_new), json.dumps(compact)]
    )
    p = tmp_path / "BENCH_r07.json"
    p.write_text(json.dumps({"tail": tail}))
    got = mod._load(str(p))
    assert got["queries"] == {"q": 1.0}  # last DETAILED payload, not first


def test_loader_survives_truncated_line(tmp_path):
    """A payload line cut mid-JSON (the tail-buffer failure) must be
    skipped, falling back to the newest complete payload."""
    mod = _load_module()
    detail = {"metric": "headline_queries_detail", "value": 2.0, "queries": {"q": 2.0}}
    truncated = json.dumps({"metric": "x", "queries": {"a": 1}})[:25]
    tail = json.dumps(detail) + "\n" + truncated
    p = tmp_path / "BENCH_trunc.json"
    p.write_text(json.dumps({"tail": tail}))
    assert mod._load(str(p))["queries"] == {"q": 2.0}


def test_loader_compact_only_fallback(tmp_path):
    mod = _load_module()
    compact = {"metric": "headline_queries_total", "value": 3.0, "n_queries": 5}
    p = tmp_path / "BENCH_compact.json"
    p.write_text(json.dumps({"tail": json.dumps(compact)}))
    got = mod._load(str(p))
    assert got["value"] == 3.0 and "queries" not in got


def test_loader_accepts_bare_compact_payload(tmp_path):
    """A file holding ONLY bench.py's contract line (what a
    last-line reader naturally captures) is a totals-only payload,
    not a malformed driver wrapper (r13 review)."""
    mod = _load_module()
    compact = {"metric": "headline_queries_total", "value": 4.5, "n_queries": 9}
    p = tmp_path / "compact.json"
    p.write_text(json.dumps(compact))
    got = mod._load(str(p))
    assert got["value"] == 4.5 and "queries" not in got


def test_loader_bad_rev_spec_shows_gits_error(tmp_path):
    """A bad rev:path spec must surface git's own explanation, not a
    bare CalledProcessError traceback (r13 review)."""
    import pytest

    mod = _load_module()
    with pytest.raises(SystemExit) as exc:
        mod._load("no-such-tag-xyz:BENCH_DETAIL.json")
    assert "git show" in str(exc.value)


def test_compare_reports_queries_missing_from_new_run(tmp_path, capsys):
    """A query that regressed from working to erroring vanishes from
    the new run's timings — the triage output must name it, not print
    a clean comparison (r13 review)."""
    import sys as _sys

    mod = _load_module()
    a = {"metric": "d", "value": 3.0, "queries": {"q1": 1.0, "q_dead": 2.0}}
    b = {"metric": "d", "value": 1.1, "queries": {"q1": 1.1}}
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    old_argv = _sys.argv
    _sys.argv = ["bench_compare.py", str(pa), str(pb)]
    try:
        mod.main()
    finally:
        _sys.argv = old_argv
    out = capsys.readouterr().out
    assert "MISSING from new run" in out and "q_dead" in out


def test_loader_reads_rev_path_spec_from_git(tmp_path):
    """A rev:path argument that isn't a file on disk is read from git
    history — how past rounds' committed BENCH_DETAIL.json stays
    reachable without checkouts."""
    import subprocess

    mod = _load_module()
    repo = tmp_path / "repo"
    repo.mkdir()
    env = {"GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
           "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t"}
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    detail = {"metric": "headline_queries_detail", "value": 3.0, "queries": {"q": 3.0}}
    (repo / "BENCH_DETAIL.json").write_text(json.dumps(detail))
    subprocess.run(["git", "add", "."], cwd=repo, check=True)
    import os as _os

    subprocess.run(
        ["git", "commit", "-q", "-m", "x"], cwd=repo, check=True,
        env={**_os.environ, **env},
    )
    (repo / "BENCH_DETAIL.json").write_text(json.dumps({**detail, "value": 4.0}))

    # _read_text resolves rev:path relative to the scripts dir's repo;
    # point its cwd at the fixture repo via monkey-free injection
    real_run = subprocess.run

    def run_in_fixture(cmd, **kw):
        kw["cwd"] = str(repo)
        return real_run(cmd, **kw)

    mod.subprocess = type(mod.subprocess)("subprocess")
    mod.subprocess.run = run_in_fixture
    got = mod._load("HEAD:BENCH_DETAIL.json")
    assert got["queries"] == {"q": 3.0}  # the COMMITTED payload, not disk


def _load_snapshot_module():
    spec = importlib.util.spec_from_file_location(
        "snapshot_driver_detail_m",
        Path(__file__).resolve().parents[1]
        / "scripts"
        / "snapshot_driver_detail.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_snapshot(mod, monkeypatch, repo, rnd, extra=()):
    import sys

    monkeypatch.setattr(
        sys, "argv", ["snapshot_driver_detail.py", str(rnd), "--repo", str(repo), *extra]
    )
    return mod.main()


def test_snapshot_archives_matching_driver_detail(tmp_path, monkeypatch):
    """Happy path: BENCH_DETAIL.json's headline equals the driver
    wrapper's parsed value → archived as BENCH_DETAIL_driver_r{N}.json;
    a second invocation is a no-op (refuses to overwrite)."""
    mod = _load_snapshot_module()
    detail = {"metric": "headline_queries_detail", "value": 84.57, "queries": {"q": 84.57}}
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(detail))
    (tmp_path / "BENCH_r11.json").write_text(
        json.dumps({"parsed": {"value": 84.57, "sf": 0.1}})
    )
    assert _run_snapshot(mod, monkeypatch, tmp_path, 11) == 0
    out = tmp_path / "BENCH_DETAIL_driver_r11.json"
    assert json.loads(out.read_text())["value"] == 84.57
    out.write_text(json.dumps({"value": -1}))  # canary
    assert _run_snapshot(mod, monkeypatch, tmp_path, 11) == 0
    assert json.loads(out.read_text())["value"] == -1, "overwrote without --force"


def test_snapshot_refuses_clobbered_detail(tmp_path, monkeypatch):
    """The failure the script exists to catch: a later builder run
    already overwrote BENCH_DETAIL.json, so its headline disagrees
    with the driver wrapper — exit 1, nothing archived (recover from
    the wrapper tail instead)."""
    mod = _load_snapshot_module()
    (tmp_path / "BENCH_DETAIL.json").write_text(
        json.dumps({"value": 99.99, "queries": {}})
    )
    (tmp_path / "BENCH_r11.json").write_text(
        json.dumps({"parsed": {"value": 84.57}})
    )
    assert _run_snapshot(mod, monkeypatch, tmp_path, 11) == 1
    assert not (tmp_path / "BENCH_DETAIL_driver_r11.json").exists()


def test_snapshot_missing_artifacts_exit_2(tmp_path, monkeypatch):
    mod = _load_snapshot_module()
    assert _run_snapshot(mod, monkeypatch, tmp_path, 11) == 2


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_m", Path(__file__).resolve().parents[1] / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_emit_survives_unwritable_detail_path(tmp_path, capsys):
    """An unwritable BENCH_DETAIL.json (here: a directory) is a stderr
    warning, and both stdout lines still print."""
    bench = _load_bench()
    bench.emit({"q1": 1.0}, {}, {}, 0.1, str(tmp_path))  # must not raise
    captured = capsys.readouterr()
    assert "could not write" in captured.err
    lines = [json.loads(x) for x in captured.out.strip().splitlines()]
    assert [x["metric"] for x in lines] == [
        "headline_queries_detail",
        "headline_queries_total",
    ]


def test_compare_placeholder_payload_gets_diagnostic_not_keyerror(tmp_path):
    """A payload carrying neither 'value' nor 'queries' (some other
    JSON file) — compare must exit with a diagnostic naming the bad
    payload, not a KeyError traceback (r15 review)."""
    import json

    import pytest

    from scripts import bench_compare as BC

    good = tmp_path / "good.json"
    good.write_text(json.dumps({"metric": "m", "value": 1.0}))
    bad = tmp_path / "bad.json"
    bad.write_text(
        json.dumps({"metric": "headline_queries_detail", "error": "boom"})
    )
    import sys

    argv = sys.argv
    sys.argv = ["bench_compare.py", str(good), str(bad)]
    try:
        with pytest.raises(SystemExit, match="not a bench result"):
            BC.main()
    finally:
        sys.argv = argv


def test_budgeted_per_query_fits_tail_with_contract_line(tmp_path, capsys):
    """The last 2000 chars of bench's stdout (what every committed
    BENCH_r*.json archives as its tail) hold the whole
    headline_queries_detail line and the contract line at the real
    registry scale — 69 headline + 107 sweep queries with realistically
    long names — with the slowest queries present and the omitted rest
    disclosed; BENCH_DETAIL.json holds every timing."""
    bench = _load_bench()
    timings = {
        f"doc_near_dup_candidates_hl_{i:03d}": 0.1 + (i % 17) * 0.37
        for i in range(69)
    }
    sweep = {
        f"events_value_winsorized_sw_{i:03d}": 0.05 + (i % 23) * 0.31
        for i in range(107)
    }
    detail_path = tmp_path / "BENCH_DETAIL.json"
    print("spark startup chatter " * 200)  # earlier stdout the cut drops
    bench.emit(timings, sweep, {}, 0.1, str(detail_path))
    tail = capsys.readouterr().out[-2000:]
    t_lines = tail.splitlines()
    contract = json.loads(t_lines[-1])
    assert contract["metric"] == "headline_queries_total"
    assert (contract["n_queries"], contract["n_sweep"], contract["n_errors"]) == (
        69,
        107,
        0,
    )
    payload = json.loads(t_lines[-2])  # whole, not cut mid-JSON
    assert payload["metric"] == "headline_queries_detail"
    assert payload["queries"]
    on_disk = json.loads(detail_path.read_text())
    assert (on_disk["queries"], on_disk["sweep"]) == (timings, sweep)
    # slowest-first: every included query is >= every omitted one
    merged = sorted(
        list(timings.values()) + list(sweep.values()), reverse=True
    )
    n_in = len(payload["queries"]) + len(payload["sweep"])
    slowest_omitted = merged[n_in] if n_in < len(merged) else 0.0
    included_min = min(
        list(payload["queries"].values()) + list(payload["sweep"].values())
    )
    assert included_min >= slowest_omitted - 0.005  # 2-decimal rounding
    # omission disclosure adds up exactly
    assert payload["n_queries_omitted"] == 69 - len(payload["queries"])
    assert payload["n_sweep_omitted"] == 107 - len(payload["sweep"])
    om = sum(
        t for n, t in timings.items() if n not in payload["queries"]
    )
    assert abs(payload["omitted_queries_sec"] - round(om, 2)) < 0.01
    # and something was actually omitted at this scale (the test would
    # be vacuous otherwise) while the slow half made it in
    assert payload["n_queries_omitted"] + payload["n_sweep_omitted"] > 0
    assert payload["value"] == contract["value"] == round(sum(timings.values()), 4)


def test_budgeted_per_query_final_line_never_exceeds_budget():
    """The budget is strict on the emitted line. A smaller omitted sum
    can serialize longer ('100.0' vs '99.99' class of digit shapes):
    here both maps sum to 20.0 ('20.0') and admitting the slowest entry
    leaves 10.25 ('10.25'). Every budget the all-omitted line fits must
    bound the emitted line."""
    bench = _load_bench()
    timings = {"q_a": 9.75, "q_b": 5.125, "q_c": 5.125}
    sweep = {"s_a": 9.75, "s_b": 5.125, "s_c": 5.125}
    floor = len(bench.budgeted_per_query(timings, sweep, 0.1, budget=0))
    full = len(bench.budgeted_per_query(timings, sweep, 0.1, budget=10**6))
    for budget in range(floor, full + 3):
        line = bench.budgeted_per_query(timings, sweep, 0.1, budget=budget)
        assert len(line) <= budget, (budget, line)


def test_budgeted_per_query_small_registry_keeps_everything():
    bench = _load_bench()
    timings = {"q1": 1.2345, "q2": 0.5}
    sweep = {"s1": 0.25}
    payload = json.loads(bench.budgeted_per_query(timings, sweep, 0.01))
    assert payload["queries"] == {"q1": 1.23, "q2": 0.5}
    assert payload["sweep"] == {"s1": 0.25}
    assert payload["n_queries_omitted"] == 0
    assert payload["n_sweep_omitted"] == 0
    assert payload["omitted_queries_sec"] == 0.0
    assert payload["omitted_sweep_sec"] == 0.0


def test_budgeted_per_query_empty_maps():
    bench = _load_bench()
    payload = json.loads(bench.budgeted_per_query({}, {}, "custom"))
    assert payload["queries"] == {} and payload["sweep"] == {}
    assert payload["sf"] == "custom"


def test_spotcheck_queries_are_registered_and_share_oracles():
    """Every spot-check query is a registry name, and the at-scale
    fingerprint check it derives from shared oracles is never vacuous:
    the five BM25 forms and the near-dup candidate twins each form one
    group."""
    from bigdata_flightanalysis_spark.queries.catalog import load_all

    spec = importlib.util.spec_from_file_location(
        "scaling_spotcheck_m",
        Path(__file__).resolve().parents[1] / "scripts" / "scaling_spotcheck.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    reg = load_all()
    assert set(mod.QUERIES) <= set(reg)
    groups = {frozenset(g) for g in mod.shared_oracle_groups(reg)}
    assert frozenset(
        {
            "doc_bm25_topk",
            "doc_bm25_index_topk",
            "doc_bm25_refresh_topk",
            "doc_bm25_compact_topk",
            "doc_bm25_serve_topk",
        }
    ) in groups
    assert (
        frozenset({"doc_near_dup_candidates", "doc_near_dup_candidates_largemode"})
        in groups
    )
