#!/usr/bin/env python3
"""Driver bench-contract check (r18).

The driver runs `sbt -batch "runMain graft.Bench"`, keeps the last 2000
chars of stdout, and json-parses the LAST line into BENCH_r{N}.json's
"parsed" field. That contract depends on build.sbt settings
(outputStrategy := StdoutOutput, Global / showSuccess := false) that sbt
upgrades or a stray setting could silently revert — which is exactly what
kept BENCH_r1..r17 at "parsed": null (LoggedOutput's "[info] " prefix +
the "[success] Total time" footer).

This script runs graft.tools.ContractStub (no Spark, seconds) through the
SAME sbt pipeline and asserts, on the captured stdout:
  1. the last non-empty line json.loads cleanly (no "[info] " prefix,
     no trailing "[success]" footer after it);
  2. it carries the contract keys: metric, value, unit == "sec",
     queries (dict of name -> seconds);
  3. every queries value is a non-negative number (failures belong in
     "failed", never as negative seconds — r17 ADVICE);
  4. the line also survives the driver's exact tail discipline
     (last 2000 chars -> last line).

With --expect, the run is a real bench subset and the line must also
  5. carry no "failed" key;
  6. account for exactly the expected names: the names it lists, plus
     "fast_n" for those under its listing threshold;
  7. follow a full artifact line (the last earlier stdout line starting
     with {"metric") whose "queries" names exactly the expected names.

Exit 0 = contract green; nonzero with a diagnostic otherwise.
Usage (run from the repo root):
  python3 tools/contract_check.py
  python3 tools/contract_check.py --main graft.Bench \
      --env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
      --env SPARK_GRAFT_BENCH_ONLY=q1_agg,d3_minhash_lsh --expect q1_agg,d3_minhash_lsh
"""
import argparse
import json
import os
import subprocess
import sys


def fail(msg, out=None):
    print(f"CONTRACT FAIL: {msg}")
    if out is not None:
        print("--- last 2000 chars of stdout ---")
        print(out[-2000:])
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--main", default="graft.tools.ContractStub",
                    help="the main sbt runs (default: the no-Spark stub)")
    ap.add_argument("--env", action="append", default=[], metavar="KEY=VALUE",
                    help="an environment variable for the run; repeatable")
    ap.add_argument("--expect", default=None, metavar="NAME,NAME",
                    help="the entries a bench subset run must account for")
    args = ap.parse_args()
    env = dict(os.environ)
    env.update(kv.split("=", 1) for kv in args.env)
    cmd = ["sbt", "-batch", f"runMain {args.main}"]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900, env=env)
    except subprocess.TimeoutExpired as e:
        # A cold clone on a loaded box can spend minutes compiling before
        # ContractStub runs; die with the gate's own diagnostic (and the
        # tail), never a bare traceback.
        out = (e.stdout or b"")
        if isinstance(out, bytes):
            out = out.decode("utf-8", "replace")
        fail(f"sbt did not finish within {e.timeout}s", out)
    out = proc.stdout
    if proc.returncode != 0:
        fail(f"sbt exited {proc.returncode}", out + "\n--- stderr ---\n" + proc.stderr)

    # The driver's discipline: tail 2000 chars, then json-parse the
    # LITERAL final line. r18 ADVICE: mirror it exactly — strip at most
    # the single trailing newline, never skip trailing blank lines (a
    # future change printing a blank line after the JSON would pass a
    # laxer check here but still leave the driver at parsed:null).
    tail = out[-2000:]
    if tail.endswith("\n"):
        tail = tail[:-1]
    last = tail.rsplit("\n", 1)[-1]
    if not last.strip():
        fail("the literal final stdout line is empty/whitespace "
             "(the driver would see parsed:null)", out)

    try:
        obj = json.loads(last)
    except json.JSONDecodeError as e:
        fail(f"last stdout line is not bare JSON ({e}): {last!r}", out)

    for key in ("metric", "value", "unit", "queries"):
        if key not in obj:
            fail(f"contract key {key!r} missing from parsed line: {obj}")
    if obj["unit"] != "sec":
        fail(f'unit is {obj["unit"]!r}, expected "sec"')
    if not isinstance(obj["queries"], dict):
        fail(f'queries is {type(obj["queries"]).__name__}, expected object')
    bad = {k: v for k, v in obj["queries"].items()
           if not isinstance(v, (int, float)) or v < 0}
    if bad:
        fail(f"negative/non-numeric query timings in queries map: {bad}")
    if not isinstance(obj["value"], (int, float)) or obj["value"] < 0:
        fail(f'value is {obj["value"]!r}, expected non-negative number')

    # r20 (r19 verdict #3): the artifact self-describes its harness
    # timing so a slow-host round is diagnosable from the parsed JSON
    # alone (r19's rc=124 was reconstructable only from stderr tails).
    for key in ("harness_sec", "sweep_sec", "reval_sec"):
        if key not in obj or not isinstance(obj[key], (int, float)):
            fail(f"harness key {key!r} missing/non-numeric: {obj.get(key)!r}")
    for key in ("reval_dropped", "skipped_n"):
        if key not in obj or not isinstance(obj[key], int) or obj[key] < 0:
            fail(f"harness key {key!r} missing/invalid: {obj.get(key)!r}")

    # r21 (r20 verdict #1, measurement honesty): the line must state the
    # total both ways — published warm mins ("value") and with each
    # entry's recorded cold first iteration substituted ("cold_value",
    # always >= value) — plus a per-entry "cold" map for listed entries.
    if "cold_value" not in obj or not isinstance(obj["cold_value"], (int, float)):
        fail(f'cold_value missing/non-numeric: {obj.get("cold_value")!r}')
    if obj["cold_value"] + 1e-9 < obj["value"]:
        fail(f'cold_value {obj["cold_value"]} < value {obj["value"]}')
    if "cold" not in obj or not isinstance(obj["cold"], dict):
        fail(f'cold map missing/invalid: {obj.get("cold")!r}')
    badc = {k: v for k, v in obj["cold"].items()
            if not isinstance(v, (int, float)) or v < 0}
    if badc:
        fail(f"negative/non-numeric cold timings: {badc}")

    if args.expect is not None:
        names = set(args.expect.split(","))
        if "failed" in obj:
            fail(f'a subset entry failed: {obj["failed"]}')
        listed = set(obj["queries"])
        if not listed <= names or len(listed) + obj.get("fast_n", 0) != len(names):
            fail(f"the line does not account for exactly {sorted(names)}: "
                 f'lists {sorted(listed)}, fast_n={obj.get("fast_n")}')
        full = next((l for l in reversed(out.splitlines()[:-1])
                     if l.startswith('{"metric"')), None)
        if full is None or set(json.loads(full)["queries"]) != names:
            fail(f"no full artifact line naming exactly {sorted(names)}", out)

    print(f"CONTRACT OK: last stdout line parses; keys={sorted(obj)}; "
          f"queries={len(obj['queries'])}")
    sys.exit(0)


if __name__ == "__main__":
    main()
