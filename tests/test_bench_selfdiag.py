"""bench.py self-diagnosis machinery (r8 verdict ask #2): the per-query
3x-vs-prior auto-retry, the prior-round baseline recovery (the round
artifact's parsed result + self-written full baseline), and the adjacent
probes before the store-lifecycle queries.

The r8 driver artifact carried three 14-21x outliers on untouched code that
the three bracketing calibration probes could not explain; these tests pin
the machinery that lets BENCH_r{N}.json decide noise vs regression by
itself: a retry that lands back at the floor is host noise (reproduced:
false), one that stays up is a regression (reproduced: true) and becomes
the new baseline.

Every test that asserts on a retry or an adoption scripts the query walls
through `bench._time_query`, so no outcome depends on host timing; every
run of `bench.main()` writes its baseline and sidecar under `tmp_path`.
"""

from __future__ import annotations

import json

import bench


# ---------------------------------------------------------------------------
# prior-round recovery
# ---------------------------------------------------------------------------


def _round_artifact(tmp_path, sf=0.1, cpus=32):
    """A round artifact BENCH_r{N}.json in its r10+ shape: run metadata plus
    the bench's parsed one-line result."""
    path = tmp_path / "BENCH_r99.json"
    art = {"n": 1, "rc": 0, "sf": sf, "tail": "",
           "parsed": {"sf": sf, "queries": {"replay_topk": 1.5}}}
    if cpus is not None:
        art["cpus"] = cpus
    path.write_text(json.dumps(art))
    return str(path)


def test_driver_artifact_reads_parsed_queries(tmp_path):
    path = _round_artifact(tmp_path)
    assert bench._timings_from_driver_artifact(path, 0.1) == {"replay_topk": 1.5}


def test_driver_artifact_rejects_other_sf(tmp_path):
    path = _round_artifact(tmp_path, sf=0.1)
    assert bench._timings_from_driver_artifact(path, 0.001) == {}


def test_prior_merge_takes_per_key_floor(tmp_path, monkeypatch):
    """Baseline + round artifact merge by MIN per key: the floor is the
    convention (a noisy baseline that suppresses retries is what let the
    r8 outliers pass unbracketed)."""
    base = tmp_path / "BENCH_BASELINE_sf0.1.json"
    base.write_text(json.dumps(
        {"sf": 0.1, "queries": {"stream_bm25_topk": 8.64, "only_self": 1.5}}
    ))
    monkeypatch.setattr(bench, "_baseline_path", lambda sf, cpus=32: str(base))
    prior, src = bench._prior_round_timings(0.1)
    if "BENCH_r11" in (src or ""):
        # BENCH_r11.json's 6.289 is under the baseline's 8.64
        assert prior["stream_bm25_topk"] == 6.289
    assert prior["only_self"] == 1.5
    assert "BENCH_BASELINE_sf0.1.json" in src


# ---------------------------------------------------------------------------
# end-to-end: retry fires on an outlier vs the recorded floor, and the
# adjacent probes land next to the store-lifecycle queries
# ---------------------------------------------------------------------------


def _scripted(walls):
    """A `bench._time_query` stand-in returning the given walls in order
    (an Exception instance is raised instead); the query never runs."""
    it = iter(walls)

    def time_query(fn, spark, sf_dir):
        w = next(it)
        if isinstance(w, Exception):
            raise w
        return w, 1

    return time_query


def _run_main_headline_only(
    monkeypatch, tmp_path, capsys, queries, seed, walls=None
):
    """Run bench.main() over the named `queries` only, with the baseline and
    the sidecar under `tmp_path`, the round artifact out of the merge (so
    `seed` IS the prior) and, when `walls` is given, scripted query walls."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    monkeypatch.setattr(bench, "_bench_queries", lambda: {k: qs[k] for k in queries})
    base = tmp_path / "BENCH_BASELINE_sfx.json"
    if seed is not None:
        base.write_text(json.dumps({"sf": 0.001, "queries": seed}))
    monkeypatch.setattr(bench, "_baseline_path", lambda sf, cpus=32: str(base))
    monkeypatch.setattr(bench, "_sidecar_path", lambda: str(tmp_path / "BENCH_LAST_RUN.json"))
    monkeypatch.setattr(
        bench, "_timings_from_driver_artifact", lambda p, sf, cpus=32: {}
    )
    if walls is not None:
        monkeypatch.setattr(bench, "_time_query", _scripted(walls))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_REPS", "0")
    bench.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out), base


def test_retry_fires_and_reproduces_vs_tiny_floor(
    spark, monkeypatch, tmp_path, capsys
):
    """A floor far below reality (here: an absurd 1 ms prior) must trigger
    the 3x retry, record every sample, conclude reproduced=true, and adopt
    the measured wall as the new baseline so later runs stop re-flagging."""
    result, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys,
        queries=["replay_topk"], seed={"replay_topk": 0.001},
        walls=[0.5, 0.4, 0.45, 0.42, 0.41],
    )
    assert result["errors"] == {}
    r = result["retries"]["replay_topk"]
    assert r["prior_round_sec"] == 0.001
    assert r["first_best"] == 0.4
    assert r["reproduced"] is True
    assert r["samples"] == [0.5, 0.4, 0.45, 0.42, 0.41]  # 3 measured + 2 retries
    assert result["queries"]["replay_topk"] == 0.4
    # the reproduced outlier became the new baseline floor
    new_base = json.loads(base.read_text())
    assert new_base["queries"]["replay_topk"] == 0.4


def test_retry_stops_when_back_at_the_floor(spark, monkeypatch, tmp_path, capsys):
    """Host noise: the first retry lands back inside 3x of the floor, so the
    second retry is skipped, reproduced=false, and nothing is adopted."""
    result, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys,
        queries=["replay_topk"], seed={"replay_topk": 0.2},
        walls=[0.9, 0.8, 0.7, 0.25],
    )
    r = result["retries"]["replay_topk"]
    assert r["samples"] == [0.9, 0.8, 0.7, 0.25]
    assert r["reproduced"] is False
    assert result["queries"]["replay_topk"] == 0.25
    new_base = json.loads(base.read_text())
    assert "adopted" not in new_base
    assert new_base["queries"]["replay_topk"] == 0.2


def test_no_retry_inside_band_and_probes_adjacent(
    spark, monkeypatch, tmp_path, capsys
):
    """A wall inside 3x of the prior must NOT trigger a retry; the
    store-lifecycle query gets a single-shot probe immediately before it.
    The baseline merge keeps the per-key floor: a seed under the measured
    wall stays, a seed over it is tightened to the measured wall."""
    result, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys,
        queries=["replay_topk", "stream_chat_threads"],
        seed={"replay_topk": 1.0, "stream_chat_threads": 10.0},
        walls=[2.9, 2.5, 2.7, 3.0],  # 3 samples, then 1 single-shot run
    )
    assert result["errors"] == {}
    assert result["retries"] == {}
    assert set(result["probes_adjacent"]) == {"stream_chat_threads"}
    assert result["probes_adjacent"]["stream_chat_threads"] > 0
    assert "BENCH_BASELINE" in result["prior_round_source"]
    assert result["queries"] == {"replay_topk": 2.5, "stream_chat_threads": 3.0}
    # floor only tightens: replay_topk's seed is under its wall and stays,
    # stream_chat_threads' seed is over its wall and drops to it
    new_base = json.loads(base.read_text())
    assert new_base["queries"] == {"replay_topk": 1.0, "stream_chat_threads": 3.0}


# ---------------------------------------------------------------------------
# r9 ADVICE hardening: retry-failure keeps the measured wall; adopted
# regression floors stay visible
# ---------------------------------------------------------------------------


def test_retry_failure_keeps_pre_retry_wall(spark, monkeypatch, tmp_path, capsys):
    """An exception during a RETRY re-run (plausible for the stream_* store-
    lifecycle queries that rebuild /tmp state) must not discard the already-
    successfully-measured wall: the query keeps its min-of-3 timing, records
    the retry error in the retries block, and stays out of errors."""
    result, _ = _run_main_headline_only(
        monkeypatch, tmp_path, capsys,
        queries=["replay_topk"], seed={"replay_topk": 1e-4},
        walls=[0.5, 0.4, 0.45, RuntimeError("store state torn mid-retry")],
    )
    assert "replay_topk" not in result["errors"]
    assert result["queries"]["replay_topk"] == 0.4  # the pre-retry best survived
    r = result["retries"]["replay_topk"]
    assert "RuntimeError" in r["retry_error"]
    assert r["samples"] == [0.5, 0.4, 0.45]  # only the successful initial samples
    assert r["reproduced"] is True  # still >3x the absurd floor


def test_adopted_floor_stays_visible_then_heals(spark, monkeypatch, tmp_path, capsys):
    """A reproduced 3x regression is adopted as the working floor but the
    displaced floor is recorded under "adopted" (r9 ADVICE: adoption must
    not mask the regression). A later run back inside 3x of the old floor
    heals the record: old floor re-enters the min-merge, record dropped."""
    result, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys,
        queries=["replay_topk"], seed={"replay_topk": 1e-4},
        walls=[0.5, 0.4, 0.45, 0.42, 0.41],
    )
    b1 = json.loads(base.read_text())
    assert result["queries"]["replay_topk"] == 0.4
    assert b1["adopted"]["replay_topk"] == {"old_floor": 1e-4, "adopted": 0.4}
    assert b1["queries"]["replay_topk"] == 0.4

    # second run: same query, floor is now the adopted (realistic) wall, so
    # no retry fires — but the standing adopted record must SURVIVE because
    # the measured wall is still >3x the displaced 1e-4 floor
    result2, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys, queries=["replay_topk"], seed=None,
        walls=[1.1, 0.9, 1.0],
    )
    b2 = json.loads(base.read_text())
    assert result2["retries"] == {}
    assert b2["adopted"]["replay_topk"]["old_floor"] == 1e-4
    assert b2["queries"]["replay_topk"] == 0.4

    # heal: rewrite the record as if the displaced floor were generous —
    # the next run lands inside 3x of it, so the floor reverts and the
    # record disappears
    b2["adopted"]["replay_topk"]["old_floor"] = 0.3
    base.write_text(json.dumps(b2))
    result3, base = _run_main_headline_only(
        monkeypatch, tmp_path, capsys, queries=["replay_topk"], seed=None,
        walls=[0.6, 0.5, 0.7],
    )
    b3 = json.loads(base.read_text())
    assert result3["retries"] == {}
    assert "adopted" not in b3
    assert b3["queries"]["replay_topk"] == 0.3


def test_floor_file_keyed_by_cpus():
    """r10 verdict ask #6: the driver's 8-core scaling run adopted an
    8-core wall (pack_layout 1.099) over the 0.247 s 32-core floor. Floors
    are keyed by (sf, cpus): 32 cores keeps the legacy filename (floor
    history stays live), any other core count gets its own file."""
    assert bench._baseline_path(0.1, 32).endswith("BENCH_BASELINE_sf0.1.json")
    assert bench._baseline_path(0.1, 8).endswith("BENCH_BASELINE_sf0.1_c8.json")
    assert bench._baseline_path(0.1).endswith("BENCH_BASELINE_sf0.1.json")


def test_driver_artifact_rejects_other_cpus(tmp_path):
    """A driver artifact recorded at a different core count, or with no
    core count, is not a wall floor for this run (same keying rule as the
    floor file)."""
    path = _round_artifact(tmp_path, cpus=8)
    assert bench._timings_from_driver_artifact(path, 0.1, 32) == {}
    assert bench._timings_from_driver_artifact(path, 0.1, 8) == {"replay_topk": 1.5}
    path = _round_artifact(tmp_path, cpus=None)
    assert bench._timings_from_driver_artifact(path, 0.1, 32) == {}


def test_sidecar_result_written(spark, monkeypatch, tmp_path, capsys):
    """r10 verdict ask #7: the full result JSON is also written to a
    sidecar file so a 2000-char stdout-tail capture can never lose the
    per-query walls again (the r09 artifact was truncated past recovery
    and cost that round its entire round-over-round table). The query runs
    for real here: no scripted walls."""
    result, _ = _run_main_headline_only(
        monkeypatch, tmp_path, capsys, queries=["replay_topk"], seed=None
    )
    side = tmp_path / "BENCH_LAST_RUN.json"
    sidecar = json.loads(side.read_text())
    assert sidecar["queries"] == result["queries"]
    assert result["queries"]["replay_topk"] > 0
    assert sidecar["cpus"] == 8  # _run_main_headline_only sets CPUS=8
