#!/usr/bin/env python3
"""The benchmark's own test: a failing op and a wrong op must both be named
and counted as failed attempts, never timed as results.

    python3 perfbench/selftest.py

For each workload it runs ``run.py --inject fail,wrong`` with a short window
and checks the final line: ``correct`` is false, both injected ops are
listed as failed, every one of their attempts counts in ``failed``,
``ok_frac`` drops below 1, and the real ops still pass.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def check(workload: str) -> list:
    r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", "0", "--inject", "fail,wrong"],
                       capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        return [f"{workload}: run.py exited {r.returncode}: {r.stderr.strip()[-400:]}"]
    detail, result = (json.loads(x) for x in r.stdout.strip().splitlines()[-2:])
    problems = []
    if result["correct"]:
        problems.append("correct is true")
    if set(detail["failed_ops"]) != {"inject_fail", "inject_wrong"}:
        problems.append(f"failed ops {sorted(detail['failed_ops'])}")
    if set(detail["failed_attempts"]) != {"inject_fail", "inject_wrong"}:
        problems.append(f"failed attempts {sorted(detail['failed_attempts'])}")
    if not 2 <= result["failed"] < result["attempted"]:
        problems.append(f"failed {result['failed']} of {result['attempted']}")
    ok_frac = result["metrics"]["ok_frac"]["value"]
    if abs(ok_frac - (1 - result["failed"] / result["attempted"])) > 1e-12:
        problems.append(f"ok_frac {ok_frac}")
    print(f"{workload}: failed {result['failed']} of {result['attempted']}, "
          f"ok_frac {ok_frac:.3f}, failed ops {detail['failed_ops']}")
    return [f"{workload}: {p}" for p in problems]


def main() -> int:
    problems = [p for w in ("panel", "queries_seq") for p in check(w)]
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
