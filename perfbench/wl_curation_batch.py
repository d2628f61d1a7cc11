"""curation_batch: one pass of the LLM-curation stages through the registry.

The stages are eight of ``examples/curation_pipeline.py`` plus MinHash-LSH
dedup and the two similarity searches, in pipeline order, each built with
``registry.all_queries()[name].spark`` and collected. The input is a
seeded row permutation of the corpus ``documents`` and ``embeddings``
tables (the results are order-independent, so every seed has the same
expected answer). Each stage is checked against its registry oracle SQL in
DuckDB over the same input, or by row count where the registry has no
oracle."""

from __future__ import annotations

import hashlib
import json
import random
import time

import duckdb
import pyarrow.parquet as pq

from harness import WORK_ROOT, Measured, Recorder, cpu_seconds, digest

STAGES = (
    "text_quality_score", "text_pii_scrub", "dedup_exact_stats", "dedup_cross_corpus",
    "text_boilerplate_ngrams", "dedup_semantic", "text_sequence_packing", "mm_blob_stats",
    "dedup_minhash_lsh", "sim_ann_ivf_topk", "sim_topk_bruteforce",
)
TABLES = ("documents", "embeddings")
# stages without an oracle are checked by row count against the exact
# query they approximate (an ANN top-k returns k rows per query, as the
# brute-force top-k does)
ROW_COUNT_REFERENCE = {"sim_ann_ivf_topk": "sim_topk_bruteforce"}


class CurationBatch:
    name = "curation_batch"
    setup_repeats = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def generate(self) -> None:
        rng = random.Random(self.ctx.seed)
        self.perms = {}
        for t in TABLES:
            n = pq.read_metadata(f"{self.ctx.curation_corpus}/{t}.parquet").num_rows
            perm = list(range(n))
            rng.shuffle(perm)
            self.perms[t] = perm

    def setup(self, r: int) -> str:
        """Write the permuted input tables; returns their directory."""
        out = self.ctx.work / f"curation_input_{r}"
        out.mkdir(parents=True)
        for t in TABLES:
            tab = pq.read_table(f"{self.ctx.curation_corpus}/{t}.parquet")
            pq.write_table(tab.take(self.perms[t]), out / f"{t}.parquet")
        return str(out)

    def measure(self, rec: Recorder, next_state, seconds: float) -> Measured:
        """Passes over every stage, each on a fresh input directory, until
        ``seconds`` have passed; a pass's time is one sample of ``run_s``."""
        from minio_iceberg_polaris_lakehouse_spark.registry import all_queries

        queries = all_queries()
        spark = self.ctx.spark
        times, passes, cpu = [], [], []
        build: dict[str, list[float]] = {}
        while True:
            sf_dir = next_state()
            results = []
            c0 = cpu_seconds()
            t0 = time.perf_counter()
            for name in STAGES:
                holder = {}

                def stage(n=name):
                    b0 = time.perf_counter()
                    df = queries[n].spark(spark, sf_dir)
                    holder["build"] = time.perf_counter() - b0
                    return df.collect()

                ok, rows = rec.run("stage", name, stage)
                if "build" in holder:
                    build.setdefault(name, []).append(holder["build"])
                    rec.ops[-1].info["build_s"] = holder["build"]
                results.append((len(rec.ops) - 1, name, rows if ok else None))
            times.append(time.perf_counter() - t0)
            cpu.append(cpu_seconds() - c0)
            passes.append((sf_dir, results))
            if sum(times) >= seconds:
                break

        def check(checker) -> None:
            for sf_dir, results in passes:
                self.check(rec, results, sf_dir, checker)

        return Measured(times, check, {"build_s": build, "cpu": cpu})

    # ------------------------------------------------------------ checks
    def _expected(self, sf_dir: str) -> dict[str, tuple]:
        """Oracle digests, cached on disk by corpus file and stage: the
        generated input is a permutation, so the answer is the corpus's."""
        from minio_iceberg_polaris_lakehouse_spark.registry import all_queries

        queries = all_queries()
        key_src = [str(self.ctx.curation_corpus)]
        for t in TABLES:
            st = (self.ctx.curation_corpus / f"{t}.parquet").stat()
            key_src.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
        for n in STAGES:
            key_src.append(hashlib.sha256((queries[n].oracle or "").encode()).hexdigest())
        key = hashlib.sha256("|".join(key_src).encode()).hexdigest()[:20]
        cache = WORK_ROOT / "oracle_cache" / f"curation-{key}.json"
        if cache.exists():
            return {k: tuple(v) for k, v in json.loads(cache.read_text()).items()}
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in STAGES:
            q = queries[n]
            if q.oracle:
                out[n] = digest(con.execute(q.oracle).fetchall())
        for n, ref in ROW_COUNT_REFERENCE.items():
            out[n] = (out[ref][0], None)
        con.close()
        cache.parent.mkdir(parents=True, exist_ok=True)
        tmp = cache.with_suffix(".tmp")
        tmp.write_text(json.dumps(out))
        tmp.replace(cache)
        return out

    def check(self, rec: Recorder, results: list, sf_dir: str, checker) -> None:
        expected = self._expected(sf_dir)
        for idx, name, rows in results:
            if rows is None:
                continue
            want, got = expected[name], digest(rows)
            if not checker.same(got, want):
                rec.fail_op(idx, f"{got[0]}/{got[1][:12]} != oracle {want[0]}/{str(want[1])[:12]}")
