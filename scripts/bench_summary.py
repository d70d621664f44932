#!/usr/bin/env python3
"""Read graft.Bench's summary from its captured stdout.

    sbt -batch "runMain graft.Bench" | python3 scripts/bench_summary.py
    python3 scripts/bench_summary.py bench_stdout.txt

Keeps only the last 2,000 characters of the capture (a harness that
records stdout keeps a tail that size), JSON-parses the last
"metric":"total_summary" line in it and prints total, passes, n_queries
and failed as one JSON object. Exits 1 when no such line is in the tail.
"""
import json
import sys

TAIL_CHARS = 2000


def summary(text):
    """The last parseable total_summary object in the tail of `text`, or None."""
    for line in reversed(text[-TAIL_CHARS:].splitlines()):
        start = line.find("{")
        if '"metric":"total_summary"' not in line or start < 0:
            continue
        try:
            return json.loads(line[start:])
        except json.JSONDecodeError:
            continue
    return None


def main(argv):
    if len(argv) > 2:
        print(__doc__, file=sys.stderr)
        return 2
    if len(argv) == 2:
        with open(argv[1], encoding="utf-8", errors="replace") as fh:
            text = fh.read()
    else:
        text = sys.stdin.read()
    s = summary(text)
    if s is None:
        print("bench_summary: no total_summary line in the last "
              f"{TAIL_CHARS} characters", file=sys.stderr)
        return 1
    print(json.dumps({"total": s["value"], "passes": s["passes"],
                      "n_queries": s["n_queries"], "failed": s["failed"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
