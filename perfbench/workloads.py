"""The benchmark's workloads: seeded set-up, one measured iteration, and
the output checks that feed ``attempted``/``failed``.

Both are closed loops with one caller. Inputs are written to Parquet in
set-up and each measured call reads its input back with
``spark.read.parquet``, as the CLI does. A run measures exactly one
iteration: one import, or one night, costs 20-65 s on four cores whatever
the input size, and 4 + 22 x 2 runs must fit the benchmark's time budget.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

#: ANN recall@10 the probe must reach against the exact top-10; it was
#: 1.0 on every seed tried, so a drop below this is a real accuracy loss,
#: not noise
RECALL_FLOOR = 0.85


class Checks:
    """Counts engine calls and output checks; a failed check is a failed
    operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def call(self) -> None:
        self.attempted += 1

    def expect(self, what: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failed += 1
            self.messages.append(f"{what}: got {got!r}, want {want!r}")

    def at_least(self, what: str, got: float, floor: float) -> None:
        self.attempted += 1
        if not got >= floor:
            self.failed += 1
            self.messages.append(f"{what}: got {got!r}, want >= {floor!r}")


def _nospan(_name):
    return contextlib.nullcontext()


class Workload:
    """Subclasses time their batch with ``batch()`` and their reads with
    ``timed_read()`` in ``iterate``."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.checks = Checks()
        self.span = _nospan
        self.batch_s = 0.0
        self.batch_window = (0.0, 0.0)
        self.read_ms: list[float] = []

    @contextlib.contextmanager
    def batch(self):
        """Times the iteration's engine work: the import, or the night."""
        w, t = time.time(), time.perf_counter()
        yield
        self.batch_s = time.perf_counter() - t
        self.batch_window = (w, time.time())

    def timed_read(self, name: str, fn):
        t = time.perf_counter()
        with self.span(name):
            out = fn()
        self.read_ms.append((time.perf_counter() - t) * 1000.0)
        self.checks.call()
        return out

    def metrics(self) -> dict:
        """The end-to-end metrics beside setup_s and run_s: (value, unit)."""
        return {
            "batch_s": (self.batch_s, "s"),
            "read_p50_ms": (statistics.median(self.read_ms), "ms"),
        }


# --- cold_import -------------------------------------------------------------

class ColdImport(Workload):
    """The process's first ``import_pages_to_store`` call, into a fresh
    store over a dense page dump, then a fixed read mix against that store.

    This is what one CLI ``--import-pages`` run of a few pages pays. The
    call's cost is almost all per call (ten-seed medians of 58.4 s cold on
    four cores for 5 pages and 58.9 s for 30), so per-page work
    (extraction, normalize) is too small a share for this workload to
    resolve a change to it."""

    n_pages = 5

    def setup(self) -> None:
        from wcdimportbot_spark.sources.pages import PAGE_SCHEMA

        self.dump = gen.page_dump(self.seed * 100, self.n_pages)
        self.dump_path = os.path.join(self.work, "dump.parquet")
        table = pa.Table.from_pandas(
            pd.DataFrame(self.dump.rows), preserve_index=False
        ).cast(_arrow_schema(PAGE_SCHEMA))
        pq.write_table(table, self.dump_path)

    def iterate(self) -> None:
        from wcdimportbot_spark.operators import analytics, sinks
        from wcdimportbot_spark.operators import cache as cache_ops
        from wcdimportbot_spark.plans import store_import
        from wcdimportbot_spark.sources.pages import read_page_dump

        dump, path = self.dump, self.dump_path
        self.store = os.path.join(self.work, "store")
        paths = store_import.store_paths(self.store)
        c = self.checks
        c.call()
        with self.batch():
            n_pages, n_new = store_import.import_pages_to_store(
                self.spark, read_page_dump(self.spark, path), paths
            )
        c.expect("import (n_pages, n_new)", (n_pages, n_new),
                 (dump.n_pages, dump.n_items))

        # point lookups are 12 of the 16 reads, so the median read is a
        # lookup from the middle of their spread, not the boundary between
        # lookups and the slower scans
        rng = random.Random(self.seed * 100)
        known = rng.sample(sorted(dump.ref_hashes), 9)
        absent = [gen.salted_md5(f"absent-{rng.random()}") for _ in range(4)]
        spark = self.spark

        def lookup(h):
            return self.timed_read("operators.cache.lookup", lambda: [
                r["qid"] for r in cache_ops.lookup(
                    cache_ops.read_cache(spark, paths["cache"]), h
                ).collect()
            ])

        def qids(h):
            return self.timed_read(
                "operators.analytics.lookup_qids_for_hash", lambda: [
                    r["subject_qid"] for r in analytics.lookup_qids_for_hash(
                        sinks.read_claims(spark, paths["claims"]), h
                    ).collect()
                ])

        by_type = self.timed_read(
            "operators.analytics.count_items_by_type", lambda: {
                r["instance_of"]: r["count"] for r in analytics.count_items_by_type(
                    sinks.read_items(spark, paths["items"])
                ).collect()
            })
        c.expect("count_items_by_type", by_type, dump.items_by_type)
        for h in known[:8]:
            c.expect("cache.lookup known", lookup(h), ["Q" + h])
        for h in absent:
            c.expect("cache.lookup absent", lookup(h), [])
        c.expect("lookup_qids_for_hash known", qids(known[8]), ["Q" + known[8]])
        c.expect("lookup_qids_for_hash absent", qids(absent[0]), [])
        usage = self.timed_read(
            "operators.analytics.count_property_usage", lambda: {
                r["property"]: r["items_with_property"]
                for r in analytics.count_property_usage(
                    sinks.read_claims(spark, paths["claims"])
                ).collect()
            })
        c.expect("count_property_usage INSTANCE_OF",
                 usage.get("INSTANCE_OF"), dump.n_items)


def _arrow_schema(spark_schema) -> pa.Schema:
    kinds = {"LongType": pa.int64(), "StringType": pa.string(),
             "IntegerType": pa.int32(), "BooleanType": pa.bool_(),
             "TimestampType": pa.timestamp("us", tz="UTC")}
    return pa.schema([
        pa.field(f.name, kinds[type(f.dataType).__name__])
        for f in spark_schema.fields
    ])


# --- nightly_curation -----------------------------------------------------------

class NightlyCuration(Workload):
    """Set-up curates a history batch, builds an IVFPQ index over its kept
    docs' vectors and binds it to the curation store. Each measured night
    runs ``curate_increment``, ``ann_index_add_batch``, one
    ``ann_index_probe`` and ``purge_documents``, counts the corpus, then
    reads docs by id."""

    n_history = 150
    n_per_night = 80
    n_doomed = 8
    #: a run measures night 0; the self-test runs two
    n_nights = 1

    def _check_annotation(self, what: str, night: gen.Night, ann) -> None:
        rows = ann.select(
            "doc_id", "dup_of_batch", "dup_of_history", "low_quality", "kept"
        ).collect()
        c = self.checks
        for col in ("dup_of_batch", "dup_of_history", "low_quality", "kept"):
            got = {r["doc_id"] for r in rows if r[col]}
            c.expect(f"{what} {col}", got, getattr(night, col))

    def setup(self) -> None:
        from wcdimportbot_spark.operators import ann_store
        from wcdimportbot_spark.plans import curation_nightly

        self.cur = gen.curation(
            self.seed, self.n_history, self.n_per_night,
            self.n_nights, self.n_doomed,
        )
        self.all_vecs = gen.vectors_of(self.cur)
        self.base = os.path.join(self.work, "curation")
        self.ann = os.path.join(self.work, "ann")
        self.inputs = [
            self._write_inputs(f"night{n}", night)
            for n, night in enumerate(self.cur.nights)
        ]
        h = self.cur.history
        docs, vectors, _ = self._write_inputs("history", h)
        ann = curation_nightly.curate_increment(
            self.spark.read.parquet(docs), self.base
        )
        self._check_annotation("history", h, ann)
        ann_store.ann_index_build(self.spark.read.parquet(vectors), self.ann)
        self.vector_paths = [vectors]
        curation_nightly.bind_ann_store(self.base, self.ann)

    def _write_inputs(self, name: str, night: gen.Night) -> tuple[str, str, str]:
        docs = os.path.join(self.work, f"{name}_docs.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(night.ids, pa.int64()), "text": night.texts,
        }), docs)
        kept = sorted(night.kept)
        pos = {d: k for k, d in enumerate(night.ids)}
        vectors = os.path.join(self.work, f"{name}_vectors.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(kept, pa.int64()),
            "embedding": pa.array([night.vectors[pos[d]] for d in kept],
                                  pa.list_(pa.float32())),
        }), vectors)
        doomed = os.path.join(self.work, f"{name}_doomed.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(night.doomed, pa.int64())}), doomed
        )
        return docs, vectors, doomed

    def corpus_lookup(self, doc_id: int) -> list[int]:
        from wcdimportbot_spark.plans import curation_nightly

        return self.timed_read(
            "plans.curation_nightly.read_curated_corpus", lambda: [
                r["doc_id"] for r in curation_nightly.read_curated_corpus(
                    self.spark, self.base
                ).filter(f"doc_id = {doc_id}").select("doc_id").collect()
            ])

    def iterate(self, n: int = 0) -> None:
        from wcdimportbot_spark.operators import ann_store
        from wcdimportbot_spark.plans import curation_nightly

        spark, c = self.spark, self.checks
        night = self.cur.nights[n]
        docs, vectors, doomed = self.inputs[n]
        with self.batch():
            c.call()
            ann = curation_nightly.curate_increment(spark.read.parquet(docs), self.base)
            self._check_annotation(f"night {n}", night, ann)
            c.call()
            added = ann_store.ann_index_add_batch(spark.read.parquet(vectors), self.ann)
            c.expect("ann_index_add_batch", added,
                     {"added": len(night.kept), "skipped": 0})
            self.vector_paths.append(vectors)

            q = self.cur.num_queries
            c.call()
            with self.span("operators.ann_store.ann_index_probe"):
                rows = ann_store.ann_index_probe(
                    spark.read.parquet(*self.vector_paths), self.ann,
                    num_queries=q, k=10,
                ).select("query_id", "neighbor_id").collect()
            got: dict[int, set[int]] = {}
            for r in rows:
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            exact = gen.exact_topk(self.all_vecs, night.live_ids, list(range(q)))
            self.recall = sum(
                len(got.get(qid, set()) & want) for qid, want in exact.items()
            ) / (10 * q)
            c.at_least("ann_recall_at_10", self.recall, RECALL_FLOOR)

            c.call()
            res = curation_nightly.purge_documents(
                spark, spark.read.parquet(doomed), self.base
            )
            c.expect("purge (corpus_deleted, ann_deleted)",
                     (res.get("corpus_deleted"), res.get("ann_deleted")),
                     (self.n_doomed, self.n_doomed))
            c.call()
            n_corpus = curation_nightly.read_curated_corpus(spark, self.base).count()
            c.expect("corpus rows after purge", n_corpus, night.corpus_after_purge)

        # point reads of the corpus: twelve docs the night kept, five it
        # purged; one read is a ~0.2 s job, so the median needs this many
        rng = random.Random(night.ids[0])
        for doc_id in rng.sample(sorted(night.kept - set(night.doomed)), 12):
            c.expect("corpus lookup kept", self.corpus_lookup(doc_id), [doc_id])
        for doc_id in night.doomed[:5]:
            c.expect("corpus lookup purged", self.corpus_lookup(doc_id), [])


WORKLOADS = {"cold_import": ColdImport, "nightly_curation": NightlyCuration}
