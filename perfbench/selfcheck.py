"""Self-checks for the benchmark's own machinery:

1. the generator: the same seed gives byte-identical files, another seed
   gives different files;
2. the output checks: a correct flagship output passes, and one flipped
   region id, one wrong cell id or one missing row, in any page, is
   counted as a failure; every output is compared with the brute oracle,
   not with an earlier repetition, so a wrong output is caught whether
   or not a correct one was checked before it.

    python3 perfbench/selfcheck.py        # exit code 0 when all hold
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def check_generator(work: str) -> list[str]:
    import gen

    bad = []
    for corpus in sorted(gen.CORPORA):
        digests = {}
        for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
            out = os.path.join(work, f"{corpus}-{tag}")
            os.makedirs(out)
            digests[tag] = gen.digest(gen.write_corpus(corpus, seed, out))
        if digests["a"] != digests["b"]:
            bad.append(f"{corpus}: seed 1 generated twice gives different files")
        if digests["a"] == digests["c"]:
            bad.append(f"{corpus}: seeds 1 and 2 give identical files")
    return bad


def check_checks(work: str) -> list[str]:
    from pyspark.sql import functions as F

    import harness
    from run import Run

    run = Run("crawl_text", 1, 0, work)
    bad = []
    try:
        run.open()
        eng = run.build()[0]
        out = eng.flagship_map(run.pages).cache()
        page = out.where(F.size("region_ids") > 0).orderBy("url").first()["url"]
        at_page = F.col("url") == page
        flip = F.transform("region_ids", lambda r: F.when(r == F.element_at("region_ids", 1), r + 1).otherwise(r))
        cases = {
            "region id flipped in one page": (out.withColumn("region_ids", F.when(at_page, flip).otherwise(F.col("region_ids"))), 1),
            "cell id changed in one page": (out.withColumn("cell_id", F.when(at_page, F.col("cell_id") + 1).otherwise(F.col("cell_id"))), 1),
            "one page missing": (out.where(~at_page), 1),
            "correct output": (out, 0),
        }
        for name, (df, want) in cases.items():
            before = run.failed
            run.verify(harness.flagship_aggregate(df.select(*out.columns)))
            if run.failed - before != want:
                bad.append(f"{name}: {run.failed - before} failures counted, want {want}")
    finally:
        harness.shutdown_jvm()
    return bad


def main() -> int:
    work = os.path.join(HERE, ".work", f"selfcheck-{os.getpid()}")
    try:
        bad = check_generator(os.path.join(work, "gen"))
        bad += check_checks(os.path.join(work, "run"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for b in bad:
        print("FAIL:", b)
    print("selfcheck:", "ok" if not bad else f"{len(bad)} failures")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
