#!/usr/bin/env python3
"""Regenerate the committed output fingerprints in perfbench/golden/.

  crawl_saturate.json  crawl fingerprints of seeds 0..99 from the
                       sequential oracle (graft.oracle.SequentialOracle)
  dedup_joins.json     result hashes of every SparkEntry query on the
                       committed tables (perfbench/data/sf0.01)

Usage: python3 perfbench/golden.py [crawl_saturate|dedup_joins ...]
Run it only when the workload definition changes on purpose: the files are
what a run's outputs are checked against.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

CRAWL_SEEDS = ",".join(str(s) for s in range(100))


def main():
    names = sys.argv[1:] or ["crawl_saturate", "dedup_joins"]
    classes, _ = build.ensure_classes()
    n = run.nproc()
    for name in names:
        work = os.path.join(build.BUILD, "work", f"golden-{name}")
        flags = run.java_flags(os.path.join(work, "tmp"))
        extra = ["--seeds", "0" if name == "dedup_joins" else CRAWL_SEEDS]
        cmd = ["java"] + flags + ["-cp", build.classpath(classes), "perfbench.Main", "golden",
                                  "--workload", name, "--root", build.ROOT, "--work", work,
                                  "--nproc", str(n)] + extra
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        shutil.rmtree(work, ignore_errors=True)
        entries = json.loads("{" + out.strip().rstrip(",") + "}")
        with open(os.path.join(HERE, "golden", f"{name}.json"), "w") as f:
            json.dump(entries, f, indent=1)
            f.write("\n")
        print(f"{name}: {len(entries)} entries")


if __name__ == "__main__":
    main()
