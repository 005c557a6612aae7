"""Self-test of the benchmark itself (not of swarm_spark).

    python3 perfbench/selftest.py

1. A tiny-input run of every workload, untraced and traced, prints
   every metric BENCHMARK.json names with its unit (plus the
   workload-specific figures), and passes its correctness gate.
2. A deliberately broken result (one dropped row) trips the gate: the
   run exits non-zero and reports "correct": false.
3. A directory holding only BENCHMARK.json and the benchmark's own
   files makes the command exit non-zero without printing a result.
Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# figures each workload prints by name before the JSON line (the
# workload's own names for what the bounded metrics measure)
NAMED = {
    "batch_ingest": {"turns_per_s": "1/s", "batch_p50_s": "s"},
    "object_push": {"push_p50_ms": "ms", "push_p90_ms": "ms", "records_per_s": "1/s"},
    "table_ops": {"read_p50_ms": "ms", "read_p90_ms": "ms", "dml_p50_ms": "ms"},
    "curation": {"curation_s": "s"},
}
TINY = ["--seed", "1", "--seconds", "3", "--scale", "0.05"]


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=400)
    return p.returncode, p.stdout.splitlines()


def result(lines: list[str]) -> dict | None:
    try:
        d = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return d if isinstance(d, dict) else None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in [x["name"] for x in bench["workloads"]]:
        for trace, spec in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            rc, lines = run(["--workload", w, "--trace", trace, *TINY])
            d = result(lines)
            expect(rc == 0 and d is not None, f"{w} trace={trace}: exits 0 with a result")
            if d is None:
                continue
            expect(set(d) == {"correct", "attempted", "failed", "metrics"}
                   and d["correct"] is True and d["attempted"] >= 1,
                   f"{w} trace={trace}: result keys, correct, attempted")
            want = {m["name"]: m["unit"] for m in spec}
            got = {k: v["unit"] for k, v in d["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: every metric with its unit"
                   + ("" if got == want else f" (diff {set(got) ^ set(want)})"))
            if trace == "0":
                printed = {ln.split()[1]: ln.split()[3] for ln in lines
                           if ln.startswith("metric ")}
                expect(all(printed.get(k) == u for k, u in NAMED[w].items()),
                       f"{w}: named figures {sorted(NAMED[w])} printed with units")
                expect("seed=1" in lines[0], f"{w}: seed echoed")

    for w in NAMED:
        rc, lines = run(["--workload", w, "--trace", "0", "--fault", "drop_row", *TINY])
        d = result(lines)
        expect(rc != 0 and d is not None and d["correct"] is False,
               f"{w}: a dropped row trips the correctness gate")

    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(["--workload", "batch_ingest", "--trace", "0", *TINY], cwd=bare)
        expect(rc != 0 and result(lines) is None,
               "benchmark files alone: exits non-zero without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
