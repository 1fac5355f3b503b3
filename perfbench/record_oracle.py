#!/usr/bin/env python3
"""Record the expected row count of every read-only key of the core, agg,
diff, fn and join registry families on the benchmark's data tier, as the
DuckDB oracle computes it.

    python3 perfbench/record_oracle.py

Dumps the keys with graft.Verify, compares every dump against its oracle SQL
with tools/check_oracle.py, and writes perfbench/oracle_counts.tsv only when
all keys match. Run it again only when the keys or the tier generator change.
"""
import os
import re
import subprocess
import sys

import run

OUT = os.path.join(run.HERE, "oracle_counts.tsv")


def main():
    cp = run.build()
    tier = run.ensure_tier(run.TIER)
    keys = run.java(cp, "graft.perfbench.Main", ["--list-keys"], 120).split()
    dump = os.path.join(run.BUILD, "oracle_dump")
    subprocess.run(["rm", "-rf", dump], check=True)
    run.java(cp, "graft.Verify", [tier, dump, ",".join(keys)], 900)
    p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                        tier, dump], stdout=subprocess.PIPE, text=True)
    ok = dict(re.findall(r"^ok\s+(\S+) \((\d+) rows\)$", p.stdout, re.M))
    bad = [k for k in keys if k not in ok]
    if bad:
        sys.exit(f"oracle mismatch or missing dump for: {', '.join(bad)}")
    with open(OUT, "w") as f:
        for k in sorted(keys):
            f.write(f"{k}\t{ok[k]}\n")
    print(f"recorded {len(keys)} keys in {OUT}")


if __name__ == "__main__":
    main()
