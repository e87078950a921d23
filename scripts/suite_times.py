#!/usr/bin/env python3
"""Per-suite wall time from a tier-1 test log.

The tier-1 run prints each test's duration (ScalaTest's `-oD` reporter
option, set in build.sbt) under a `<Suite>:` header line. This sums those
durations per suite and prints the suites slowest first, then the total
against the tier-1 timeout.

    python3 scripts/suite_times.py <tier-1 log>

Tests printed without a duration (ignored, pending, canceled) count as 0 s.
Time spent outside tests (JVM start, compilation, suite set-up and
tear-down) is not in the per-suite sums.
"""
import re
import sys

PREFIX = re.compile(r"^(?:\[info\] )?")
SUITE = re.compile(r"^([A-Za-z_][\w$.]*):$")
TEST = re.compile(r"^- (.*)$")
UNITS = {"hour": 3600.0, "minute": 60.0, "second": 1.0, "millisecond": 0.001}
PART = re.compile(r"^(\d+) (hour|minute|second|millisecond)s?$")
TIMEOUT_S = 2670.0  # the tier-1 test command's timeout


def seconds(text):
    """Seconds of a ScalaTest duration such as `1 minute, 2 seconds`, else None."""
    total = 0.0
    for part in text.split(", "):
        m = PART.match(part.strip())
        if not m:
            return None
        total += int(m.group(1)) * UNITS[m.group(2)]
    return total


def test_seconds(line):
    """Duration of a `- test name (…)` line: its last parenthesised group."""
    if not line.endswith(")"):
        return 0.0
    start = line.rfind("(")
    s = seconds(line[start + 1:-1]) if start >= 0 else None
    return 0.0 if s is None else s


def parse(lines):
    suites = {}  # name -> [tests, seconds], in first-seen order
    current = None
    for raw in lines:
        line = PREFIX.sub("", raw.rstrip("\n"))
        m = SUITE.match(line)
        if m:
            current = m.group(1)
            suites.setdefault(current, [0, 0.0])
            continue
        m = TEST.match(line)
        if m and current is not None:
            suites[current][0] += 1
            suites[current][1] += test_seconds(m.group(1))
    return suites


def main(argv):
    if len(argv) != 1:
        print("usage: python3 scripts/suite_times.py <tier-1 log>", file=sys.stderr)
        return 2
    log = argv[0]
    with open(log, encoding="utf-8", errors="replace") as f:
        suites = parse(f)
    if not suites:
        print(f"no suite headers found in {log}", file=sys.stderr)
        return 1
    ranked = sorted(suites.items(), key=lambda kv: (-kv[1][1], kv[0]))
    width = max(len(name) for name, _ in ranked)
    print(f"{'suite':<{width}}  {'tests':>5}  {'wall_s':>8}")
    for name, (n, s) in ranked:
        print(f"{name:<{width}}  {n:>5}  {s:>8.1f}")
    total = sum(s for _, s in suites.values())
    tests = sum(n for n, _ in suites.values())
    print(f"{len(suites)} suites, {tests} tests: {total:.1f} s in tests, "
          f"{100.0 * total / TIMEOUT_S:.1f}% of the {TIMEOUT_S:.0f} s timeout")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
