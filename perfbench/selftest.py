"""Self-test of the benchmark at tiny sizes (sf0.001, a 32k-event fold
log, a handful of stream frames). Asserts that

  - every workload runs clean: correct, error_rate 0;
  - the untraced result line carries every end_to_end metric and the
    traced one every per_layer metric of BENCHMARK.json, each with the
    unit BENCHMARK.json gives;
  - the detail line carries every workload metric README.md names, with
    its unit;
  - a deliberately wrong headline reference drives error_rate above 0.

    python3 perfbench/selftest.py        # about three minutes on 4 cores
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DETAIL = {
    "headline": {
        "headline_warm_s": "s", "headline_cold_s": "s",
        "headline_query_p50_s": "s", "headline_query_p90_s": "s",
        "headline_warm_samples": "count",
    },
    "replay_fold": {"replay_eps": "1/s", "replay_summarize_s": "s"},
    "scoreboard_stream": {
        "stream_visible_p50_s": "s", "stream_visible_p90_s": "s",
        "stream_drain_eps": "1/s", "stream_drain_batch_s": "s",
        "generator.late_s_max": "s",
        "source.backlog_files_max": "count",
    },
}
COMMON = {"setup_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio"}
TRACED = {
    "replay_fold": {
        "sources.scan_s": "s", "GameFold.fold_s": "s",
        "GameFold.shuffle_sort_s": "s", "GameFold.kernel_ns_per_event": "ns",
    },
    "scoreboard_stream": {
        "EventStream.restart_s": "s", "EventStream.latestOffset_ms": "ms",
        "EventStream.getBatch_ms": "ms", "EventStream.queryPlanning_ms": "ms",
        "EventStream.addBatch_ms": "ms", "EventStream.walCommit_ms": "ms",
        "EventStream.commitOffsets_ms": "ms",
        "EventStream.triggerExecution_ms": "ms", "state.commit_ms": "ms",
    },
}


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace),
           "--profile", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def expect_units(where, got, want):
    for name, unit in want.items():
        assert name in got, f"{where}: {name} missing"
        assert got[name]["unit"] == unit, f"{where}: {name} unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), f"{where}: {name} not a number"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in bench["workloads"]:
        name = w["name"]
        for trace in (0, 1):
            detail, result = run(name, trace)
            where = f"{name} trace={trace}"
            assert result["correct"] and result["failed"] == 0, f"{where}: {detail['failures']}"
            assert set(result["metrics"]) == set(layers if trace else e2e), where
            expect_units(where, result["metrics"], layers if trace else e2e)
            expect_units(where + " detail", detail["metrics"],
                         {**DETAIL[name], **COMMON, **(TRACED.get(name, {}) if trace else {})})
            assert detail["metrics"]["error_rate"]["value"] == 0, where
            print(f"ok {where}")

    # a wrong reference must read as errors, never as timings
    ref = os.path.join(HERE, "reference", "headline_sf0.001.tsv")
    with open(ref) as f:
        rows = [l.rstrip("\n").split("\t") for l in f if l.strip() and not l.startswith("#")]
    rows[0][2] = format(int(rows[0][2], 16) ^ 1, "x")
    with tempfile.NamedTemporaryFile("w", suffix=".tsv", dir=os.path.join(ROOT, ".bench_build"),
                                     delete=False) as f:
        f.write("".join("\t".join(r) + "\n" for r in rows))
    try:
        detail, result = run("headline", 0, "--reference", f.name)
    finally:
        os.unlink(f.name)
    assert not result["correct"] and result["failed"] > 0, result
    assert detail["metrics"]["error_rate"]["value"] > 0, detail["metrics"]["error_rate"]
    print(f"ok wrong reference: error_rate {detail['metrics']['error_rate']['value']:.3f}")


if __name__ == "__main__":
    main()
