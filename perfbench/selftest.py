#!/usr/bin/env python3
"""The benchmark's own tests, on the sf0.001 fixture.

    python3 perfbench/selftest.py

1. Attribution by tag: perfbench.SelfTest runs a streaming, a batch and a
   streaming query back to back under the tracer and checks that each
   query's jobs and streaming progress land on that query.
2. A wrong expected digest is a failure: one harness pass is checked against
   its own digests (correct) and against a wrong one (every attempt failed).
Exits non-zero if any check fails.
"""
import json
import os
import sys

import run


def main():
    bdir = run.build_dir()
    run.build(bdir)
    pins = json.load(open(os.path.join(run.HERE, "fixtures.json")))
    small = run.fixtures(bdir, pins, "sf0.001")
    local = os.path.join(bdir, "spark-local")
    rc = run.run_proc(run.java_cmd(bdir, "perfbench.SelfTest", [small, local]), bdir, 170, "selftest.log")
    print(open(os.path.join(bdir, "selftest.log")).read().count("ok  "), "attribution checks passed")
    failures = 0 if rc == 0 else 1
    if rc != 0:
        print(f"FAIL attribution self-test exited with {rc}, see {os.path.join(bdir, 'selftest.log')}")

    out = os.path.join(bdir, "selftest.records.jsonl")
    q = "q_tpch_v6"
    args = ["--workload", "selftest", "--queries", q, "--data", small, "--warm", small, "--seed", "1",
            "--passes", "1", "--trace", "0", "--localdir", local, "--out", out]
    if run.run_proc(run.java_cmd(bdir, "perfbench.Main", args), bdir, 170, "selftest.jvm.log") != 0:
        print("FAIL the harness did not run")
        sys.exit(1)
    recs = [json.loads(line) for line in open(out)]
    digest = next(r["digest"] for r in recs if r["kind"] == "query")
    for expected, want_ok in (({q: digest}, True), ({q: digest + "0"}, False), ({}, False)):
        ok, attempted, failed, *_ = run.batch_result([dict(r) for r in recs], expected, False)
        good = ok == want_ok and failed == (0 if want_ok else attempted)
        print(f"{'ok  ' if good else 'FAIL'} expected {expected or 'nothing'}: correct={ok} failed={failed}/{attempted}")
        failures += not good
    print(f"self-test: {failures} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
