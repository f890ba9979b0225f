#!/usr/bin/env python3
"""Per-query warm-JVM medians via graft.tools.BenchPipe.

Usage: python3 tools/pipe_measure_queries.py <sfDir> <out.json> q1 q2 ...

Per query: 2 warm runs, then N timed runs (default 5, env PIPE_ROUNDS);
writes {"queries": {name: median}, "spread": {name: [min, max]},
"errors": {name: message}} to out.json. One persistent JVM, in-JVM
count() timing. Queries measured within ONE invocation share a machine
window; a before/after pair taken from two separate invocations spans two
machine windows, and window drift alone can move every median by ~1.3x —
cross-check such deltas against an interleaved measure_baseline.py run
before publishing a ratio.

A query that errors is recorded under "errors" and the run goes on; the
results collected so far are written even when the run itself fails.
"""
import sys, os, json, statistics, subprocess
from measure_baseline import start_pipe, pipe_cmd

def main():
    sf_dir, out_path, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    rounds = int(os.environ.get("PIPE_ROUNDS", "5"))
    proc = start_pipe(sf_dir)
    meds, spread, errors = {}, {}, {}
    try:
        for name in names:
            try:
                for _ in range(2):
                    pipe_cmd(proc, "warm", name)
                samples = [pipe_cmd(proc, "time", name) for _ in range(rounds)]
            except RuntimeError as e:
                errors[name] = str(e)
                print(f"[measure] {name}: ERROR {e}", flush=True)
                continue
            meds[name] = round(statistics.median(samples), 4)
            spread[name] = [round(min(samples), 4), round(max(samples), 4)]
            print(f"[measure] {name}: median {meds[name]} spread {spread[name]}",
                  flush=True)
    finally:
        with open(out_path, "w") as f:
            json.dump({"queries": meds, "spread": spread, "errors": errors}, f, indent=1)
        print(f"[measure] wrote {out_path}")
        try:
            proc.stdin.write("quit\n"); proc.stdin.flush()
        except Exception:
            pass
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

if __name__ == "__main__":
    main()
