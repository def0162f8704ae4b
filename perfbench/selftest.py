"""Small-seed self-test: the generator's bookkeeping matches the engine.

Run from the repository root (about two minutes on four cores):

    python3 perfbench/selftest.py --seed 7

Beyond the counts the benchmark checks on every run, this compares whole
sets: the item hashes the import stored, per item type, against the
generator's page hashes, reference identities and first-level domains;
and after two curation nights, the corpus doc ids, the dedup index's
hashes and the ANN store's vector ids against the generator's state. It
also checks that one seed always generates the same inputs.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import run
import workloads
import gen


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args(argv)
    failures: list[str] = []

    def same(what, got, want):
        print(f"{'ok  ' if got == want else 'FAIL'} {what}")
        if got == want:
            return
        if isinstance(got, set):
            what += (f": engine only {sorted(got - want)[:3]}, "
                     f"generator only {sorted(want - got)[:3]}")
        elif isinstance(got, list):
            what += ": " + "; ".join(got)
        failures.append(what)

    a, b = gen.page_dump(args.seed, 5), gen.page_dump(args.seed, 5)
    same("page dump is a function of the seed", a.rows == b.rows, True)
    c1, c2 = (gen.curation(args.seed, 40, 20, 2, 2) for _ in range(2))
    same("curation inputs are a function of the seed",
         [n.texts for n in c1.nights] == [n.texts for n in c2.nights]
         and all((x.vectors == y.vectors).all()
                 for x, y in zip(c1.nights, c2.nights)), True)

    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.OUT, f"selftest-{os.getpid()}")
    os.makedirs(work)
    run.configure(work, trace=False)
    from wcdimportbot_spark import get_spark
    from wcdimportbot_spark.operators import ann_store, sinks, text_dedup
    from wcdimportbot_spark.plans import curation_nightly

    spark = get_spark(app_name="perfbench-selftest")
    try:
        bulk = workloads.ColdImport(spark, work, args.seed)
        bulk.n_pages = 20
        bulk.setup()
        bulk.iterate()
        dump = bulk.dump
        items = sinks.read_items(spark, os.path.join(bulk.store, "items"))
        stored = {}
        for r in items.select("instance_of", "hash").collect():
            stored.setdefault(r["instance_of"], set()).add(r["hash"])
        same("page item hashes", stored.get("WIKIPEDIA_PAGE", set()),
             dump.page_hashes)
        same("reference item hashes", stored.get("WIKIPEDIA_REFERENCE", set()),
             dump.ref_hashes)
        same("website item hashes", stored.get("WEBSITE_ITEM", set()),
             dump.site_hashes)

        cur = workloads.NightlyCuration(spark, work, args.seed)
        cur.n_history, cur.n_per_night, cur.n_nights = 120, 60, 2
        cur.n_doomed = 4
        cur.setup()
        for n in range(cur.n_nights):
            cur.iterate(n)
            print(f"night {n}: ann recall@10 {cur.recall:.3f}")
        want = cur.cur
        corpus = curation_nightly.read_curated_corpus(spark, cur.base)
        same("corpus doc ids",
             {r["doc_id"] for r in corpus.select("doc_id").collect()},
             want.corpus_ids)
        hashes, _bands = text_dedup.read_dedup_index(
            spark, os.path.join(cur.base, curation_nightly.INDEX_DIR)
        )
        same("dedup index hashes",
             {r["text_hash"] for r in hashes.collect()}, want.index_hashes)
        codes = ann_store.read_ann_codes(spark, cur.ann)
        same("ANN vector ids",
             {r["vec_id"] for r in codes.select("vec_id").collect()},
             set(want.nights[-1].live_ids) - set(want.nights[-1].doomed))
        checks = [*bulk.checks.messages, *cur.checks.messages]
        same("per-run output checks", checks, [])
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"self-test failure: {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
