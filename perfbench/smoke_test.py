#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced. Asserts that each run prints every metric BENCHMARK.json names, with
its unit, that every output check of the workload ran, that no operation
failed, and that a traced run moves every per-layer metric of the layers
its workload exercises.

Run from the repository root (about 5 minutes on 4 cores):

    python3 perfbench/smoke_test.py
"""
import json
import subprocess
import sys

# The output checks each workload must run at least once.
CHECKS = {
    "pipeline": ["ingest.failed_subjects", "ingest.error_channel", "ingest.summary_rows",
                 "dashboard.subjects", "dashboard.summary", "dashboard.hypnogram",
                 "dashboard.band_powers"],
    "registry": ["registry.q5_sessionization", "registry.d5_bloom_incremental",
                 "registry.e1_knn_brute", "registry.s1_stream_windows"],
}
# The layers each workload exercises: in a traced run, every per-layer
# metric under them must be above 0.
LAYERS = {
    "pipeline": ("ingest.", "warehouse.", "sleep.", "api.", "edf.", "signal."),
    "registry": ("queries.", "streaming."),
}
# Metrics of an exercised layer that read 0 by the nature of its work.
ZERO_BY_DESIGN = {
    "ingest.output_bytes": "extraction writes nothing; the warehouse load does",
    "warehouse.shuffle_write_bytes": "the load writes its input without a shuffle",
    "api.output_bytes": "reads write nothing",
    "queries.cached_blocks_left": "none of the queries leaves a cached block",
}
NAMED = {
    "pipeline": ["epochs_per_s", "read_p50_ms", "read_p95_ms"],
    "registry": ["query_p50_ms", "query_p90_ms"],
}


def run(workload, trace):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, f"{cmd} exited {r.returncode}\n{r.stderr[-3000:]}"
    return [json.loads(line) for line in r.stdout.strip().splitlines() if line.startswith("{")]


def main():
    spec = json.load(open("BENCHMARK.json"))
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    assert {w["name"] for w in spec["workloads"]} == set(CHECKS)
    for workload in CHECKS:
        for trace in (0, 1):
            lines = run(workload, trace)
            result, report = lines[-1], next(l for l in lines if "checks" in l)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0, result
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == expected[trace], (workload, trace, set(got) ^ set(expected[trace]))
            for v in result["metrics"].values():
                assert isinstance(v["value"], (int, float)), v
            if trace:
                idle = [k for k, v in result["metrics"].items()
                        if k.startswith(LAYERS[workload]) and k not in ZERO_BY_DESIGN
                        and not v["value"] > 0]
                assert not idle, (workload, "per-layer metrics at 0", idle)
                assert result["metrics"]["trace.span_coverage"]["value"] > 0
            for c in CHECKS[workload]:
                assert report["checks"].get(c, {}).get("run", 0) > 0, (workload, c)
            for n in NAMED[workload] + ["fail_ratio"]:
                assert n in report["named"] and report["named"][n]["unit"], (workload, n)
            assert report["named"]["fail_ratio"]["value"] == 0
            print(f"ok {workload} trace={trace}", flush=True)
    print("smoke test passed")


if __name__ == "__main__":
    sys.exit(main())
