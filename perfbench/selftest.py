#!/usr/bin/env python3
"""Self-test of the benchmark's output under a German locale.

    python3 perfbench/selftest.py

Runs one short traced `dashboard_queries` run with the JVM's default
locale set to de_DE (which writes decimal commas wherever a number is
formatted with the default locale) and checks that the last stdout line,
every `metric` line and the run's artifacts parse, with every value a
number. Exits 0 on success.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    env = dict(os.environ, LC_ALL="de_DE.UTF-8", LANG="de_DE.UTF-8",
               JAVA_TOOL_OPTIONS="-Duser.language=de -Duser.country=DE")
    seed = 7
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "dashboard_queries", "--seed", str(seed), "--seconds", "1",
         "--trace", "1"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit(f"selftest: run exited {r.returncode}")
    lines = r.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
    assert last["correct"] is True and last["failed"] == 0, last
    assert last["metrics"], "no metrics"
    for k, v in last["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)
    named = [l for l in lines if l.startswith("metric ")]
    assert named, "no metric lines"
    for l in named:
        value = l.split(" = ", 1)[1].split(" ")[0]
        if value != "null":
            float(value)  # a decimal comma would fail here
    tag = f"dashboard_queries-seed{seed}-trace1"
    results = os.path.join(ROOT, ".bench_build", "results")
    with open(os.path.join(results, tag + ".json")) as f:
        art = json.load(f)
    assert art["per_layer"] and art["named_metrics"], "empty artifact"
    with open(os.path.join(results, tag + ".spans.jsonl")) as f:
        spans = [json.loads(s) for s in f]
    assert any(s["parent"] != 0 for s in spans), "no child spans"
    print(f"selftest: ok ({len(last['metrics'])} metrics, {len(spans)} spans)")


if __name__ == "__main__":
    main()
