"""The benchmark's own checks.

    python3 perfbench/selfcheck.py            # fast: no engine needed
    python3 perfbench/selfcheck.py --smoke    # plus a tiny run of each workload

Fast checks: the same seed yields an identical request sequence and a
different seed a different one (every workload), and BENCHMARK.json
keeps the shape its consumers expect (key set, name and unit
characters, bounds, set-up bound). ``--smoke`` runs each
workload for a few seconds, untraced and traced, and checks that the
last line names every metric of BENCHMARK.json with its unit.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def sequences(seed: int) -> dict[str, list]:
    n = 4
    return {
        "shared_scan": [
            list(itertools.islice(W.shared_scan_stream(seed, c, n), 20)) for c in range(n)
        ],
        "corpus": list(itertools.islice(W.corpus_stream(seed), 20)),
    }


def check_determinism() -> list[str]:
    errs = []
    a, b, c = sequences(11), sequences(11), sequences(12)
    for wl in a:
        if a[wl] != b[wl]:
            errs.append(f"{wl}: same seed gave different requests")
        if a[wl] == c[wl]:
            errs.append(f"{wl}: different seeds gave identical requests")
    return errs


def check_spec() -> list[str]:
    errs = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        errs.append(f"top-level keys {sorted(spec)}")
    if not 1 <= int(spec["run_seconds"]) <= 60:
        errs.append("run_seconds out of range")
    names = set()
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or not NAME.match(w["name"]) or len(w["why"]) > 200:
            errs.append(f"workload {w}")
        names.add(w["name"])
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            errs.append(f"end_to_end {m}")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            errs.append(f"per_layer {m}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not NAME.match(m["name"]) or not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            errs.append(f"metric {m}")
    all_names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + list(names)
    if len(all_names) != len(set(all_names)):
        errs.append("duplicate names")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["bound"] < max(m["bound"] for m in spec["end_to_end"]):
        errs.append("setup_s missing or not given the largest bound")
    if not names <= {"shared_scan", "corpus"}:
        errs.append(f"unknown workloads {names}")
    return errs


def smoke(spec: dict) -> list[str]:
    errs = []
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "1", "--seconds", "4", "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if out.returncode != 0:
                errs.append(f"{w['name']} trace={trace}: exit {out.returncode}: {out.stderr[-500:]}")
                continue
            last = json.loads(out.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            if got != want[trace]:
                errs.append(f"{w['name']} trace={trace}: metrics {sorted(got)} != {sorted(want[trace])}")
            if set(last) != {"correct", "attempted", "failed", "metrics"} or last["attempted"] < 1:
                errs.append(f"{w['name']} trace={trace}: result line {sorted(last)}")
            print(f"smoke {w['name']} trace={trace}: ok, correct={last['correct']}", flush=True)
    return errs


def main() -> int:
    errs = check_determinism() + check_spec()
    if "--smoke" in sys.argv and not errs:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            errs += smoke(json.load(fh))
    for e in errs:
        print("FAIL", e)
    print("selfcheck:", "FAILED" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
