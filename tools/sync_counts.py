#!/usr/bin/env python3
"""Sync the spec/suite counts in README.md and NOTES.md from a real
`sbt test` summary instead of hand-editing them (round-7 hygiene
finding: the hand-maintained numbers drifted 231/49 -> 234/50 across
three commits).

Usage:
    sbt -batch test 2>&1 | tee /tmp/sbt_test.log
    python3 tools/sync_counts.py /tmp/sbt_test.log
    python3 tools/sync_counts.py --census    # source census only

Parses the final ScalaTest run summary
(`Tests: succeeded N, ...` + `Suites: completed M, aborted 0`) and
rewrites the two known count sentences in place. Refuses to touch the
docs if the log shows failures.

Also syncs the QUERY count in NOTES.md from the single source of
truth, `SparkEntry.expectedQueryCount` (round-8 finding: the spec
counts were script-synced but the query count drifted 187 vs 189 when
the last snapshot outran the docs).

Both modes also print a census of `src/main`, so docs can quote a
command instead of a hand count: the session memos (`new SessionMemo`
sites), in total and under `queries/`, and the distinct
`"spark.graft.*"` conf keys.
"""
import os
import re
import sys

MAIN = "src/main/scala"


def census():
    """(memos, memos under queries/, distinct spark.graft.* keys)."""
    memos = queries = 0
    keys = set()
    for root, _, files in os.walk(MAIN):
        for f in files:
            if not f.endswith(".scala"):
                continue
            src = open(os.path.join(root, f), encoding="utf-8").read()
            n = src.count("new SessionMemo")
            memos += n
            if os.path.basename(root) == "queries":
                queries += n
            keys.update(re.findall(r'"(spark\.graft\.[A-Za-z0-9_.]+)"', src))
    return memos, queries, sorted(keys)


def print_census():
    memos, queries, keys = census()
    print(f"census: {memos} session memos in src/main "
          f"({queries} under queries/), "
          f"{len(keys)} spark.graft.* keys")
    for k in keys:
        print(f"  {k}")


def query_count():
    src = open("src/main/scala/graft/SparkEntry.scala",
               encoding="utf-8").read()
    m = re.search(r"val expectedQueryCount: Int = (\d+)", src)
    if not m:
        raise SystemExit("SparkEntry.expectedQueryCount not found")
    return int(m.group(1))


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.strip())
    if sys.argv[1] == "--census":
        print_census()
        return
    log = open(sys.argv[1], encoding="utf-8", errors="replace").read()
    m_t = re.findall(r"Tests: succeeded (\d+), failed (\d+)", log)
    m_s = re.findall(r"Suites: completed (\d+), aborted (\d+)", log)
    if not m_t or not m_s:
        raise SystemExit("no ScalaTest summary found in the log")
    succeeded, failed = map(int, m_t[-1])
    suites, aborted = map(int, m_s[-1])
    if failed or aborted:
        raise SystemExit(
            f"refusing to sync counts from a failing run "
            f"(failed={failed}, aborted={aborted})")

    nq = query_count()
    subs = [
        ("README.md",
         re.compile(r"`sbt test` runs \d+ specs across\n?\d+ suites"),
         f"`sbt test` runs {succeeded} specs across\n{suites} suites"),
        ("NOTES.md",
         re.compile(r"\*\*\d+ ScalaTest specs across \d+ suites\*\*"),
         f"**{succeeded} ScalaTest specs across {suites} suites**"),
        ("NOTES.md",
         re.compile(r"\*\*\d+ queries\*\* in `SparkEntry.queries`"),
         f"**{nq} queries** in `SparkEntry.queries`"),
        ("README.md",
         re.compile(r"\*\*\d+/\d+ queries oracle-checked\*\*"),
         f"**{nq}/{nq} queries oracle-checked**"),
    ]
    for path, pat, repl in subs:
        text = open(path, encoding="utf-8").read()
        new, n = pat.subn(repl, text)
        if n != 1:
            raise SystemExit(f"{path}: expected exactly 1 count sentence "
                             f"matching {pat.pattern!r}, found {n}")
        open(path, "w", encoding="utf-8").write(new)
        print(f"{path}: synced to {succeeded} specs / {suites} suites")
    print_census()


if __name__ == "__main__":
    main()
