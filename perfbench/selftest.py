#!/usr/bin/env python3
"""Fast self-test of the benchmark: a few gates per workload on the inputs
of seed 7, with a one-second window. Run from the root of a checkout:

  python3 perfbench/selftest.py

It checks that
  1. every end-to-end and per-layer metric of BENCHMARK.json prints with its
     name and unit;
  2. a deliberately corrupted gate output is counted as failed;
  3. stream_stateful reads streaming.batches > 0 and state.instances > 0,
     while tpch_batch reads zero for both;
  4. comparing records made with different seeds or gate lists is refused.
Exits 1 on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
from run import comparable, record_path  # noqa: E402

SEED = 7


def bench(workload, trace, gates, *extra, seed=SEED):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", str(trace), "--gates", ",".join(gates),
           "--seconds", "1", *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.exit(f"selftest: {' '.join(cmd[1:])} exited {r.returncode}\n{r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def expect(cond, what):
    if not cond:
        sys.exit(f"selftest: FAILED: {what}")
    print(f"selftest: ok: {what}")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def named(result, section):
        want = {m["name"]: m["unit"] for m in spec[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()
               if isinstance(v.get("value"), (int, float))}
        return got == want

    tpch = ["tpch_q3_shipping_priority", "tpch_q6_forecast_revenue"]
    _, plain = bench("tpch_batch", 0, tpch)
    expect(plain["correct"] and plain["failed"] == 0, "tpch_batch gates match the oracle")
    expect(named(plain, "end_to_end"), "every end-to-end metric prints with its unit")

    rec, bad = bench("tpch_batch", 1, tpch, "--corrupt", tpch[1])
    expect(named(bad, "per_layer"), "every per-layer metric prints with its unit")
    expect(not bad["correct"] and bad["failed"] == 1 and list(rec["failed"]) == [tpch[1]],
           "a corrupted gate output is counted as failed")
    m = bad["metrics"]
    expect(m["streaming.batches"]["value"] == 0 and m["state.instances"]["value"] == 0,
           "tpch_batch reads zero streaming.batches and state.instances")

    _, st = bench("stream_stateful", 1, ["stream_topn", "changelog_join_agg_topn"])
    m = st["metrics"]
    expect(st["correct"], "stream_stateful gates match the oracle")
    expect(m["streaming.batches"]["value"] > 0 and m["state.instances"]["value"] > 0,
           "stream_stateful reads streaming.batches > 0 and state.instances > 0")

    bench("tpch_batch", 0, tpch, seed=SEED + 1)
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "compare",
                        record_path("tpch_batch", SEED, tpch, 0),
                        record_path("tpch_batch", SEED + 1, tpch, 0)],
                       cwd=ROOT, capture_output=True, text=True)
    expect(r.returncode == 3 and "refused" in r.stderr,
           "comparing records of different seeds is refused")
    stamp = json.load(open(record_path("tpch_batch", SEED, tpch, 0)))["stamp"]
    expect(comparable(stamp, dict(stamp, gates=tpch[:1])) is not None,
           "comparing records of different gate lists is refused")
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()
