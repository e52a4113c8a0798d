"""curation_batch: the operator chain of examples/curation_pipeline.py
(without its SoftDeDup and DSIR steps) over the benchmark corpus,
composed here op by op, landed through `sources.sinks.write_partitioned`
and read back; then a media decode registry row over the same documents,
forced with the noop sink.

One pass is the whole chain plus the decode row. Checks: the landed row
count equals the curated count, the splits are disjoint and cover it,
the landed fingerprint is identical on every pass, and the decode row
matches its DuckDB registry oracle.
"""

from __future__ import annotations

import os
import time

from check_oracle import _check_one  # tools/check_oracle.py comparison policy

from harness import Recorder

# the heaviest Python-worker decode row; more rows, like the SoftDeDup
# and DSIR steps of the example, would lengthen every pass past the
# run budget
DECODE_ROW = "multimodal_jpeg_progressive_decode"
OPERATORS = (
    "redact_score",
    "chunk_dup",
    "minhash",
    "lsh_candidates",
    "jaccard_verify",
    "connected_components",
    "decontaminate",
    "leakage_split",
)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CurationBatch:
    name = "curation_batch"

    def __init__(self, data_dir: str, work_dir: str, seed: int, sizes: dict):
        self.data_dir, self.seed = data_dir, seed
        # an op is one document; its latency is the pass that carries it
        self.items_per_pass = sizes["documents"]
        self.out_dir = os.path.join(work_dir, "curated")
        self.tracer = None
        self.fingerprint = None

    def setup(self, spark) -> None:
        from fuse_query_spark.queries import load_registry
        from fuse_query_spark.sources.tables import table

        self.spark = spark
        self.registry = load_registry()
        self.docs = table(spark, self.data_dir, "documents")
        self.docs.limit(1).collect()  # warm-up: first scan and job

    def teardown(self) -> None:
        pass

    def _op(self, rec: Recorder, kind: str, layer: str, name: str, fn, *args):
        """One timed op; under tracing also a span with its job count,
        then a counter snapshot outside the op's timing."""
        tr = self.tracer
        if tr is None:
            return rec.run(kind, name, fn, *args)
        tr.set_op(len(rec.ops))
        ok, out = rec.run(kind, name, tr.call, f"{layer}.{name}", fn, *args)
        tr.poll()
        tr.set_op(None)
        return ok, out

    def _chain(self, rec: Recorder):
        """The curation operators; returns the curated DataFrame or None."""
        from pyspark.sql import functions as F

        from fuse_query_spark.operators.dedup import (
            connected_components,
            jaccard_verify,
            lsh_candidate_pairs_md5,
            minhash_signatures_md5,
        )
        from fuse_query_spark.operators.sampling import contaminated_ids, leakage_safe_split
        from fuse_query_spark.operators.text import (
            chunk_dup_fraction,
            pii_counts,
            quality_score,
            redact_pii,
            token_count,
        )

        docs = self.docs
        evals = docs.filter((F.col("doc_id") + self.seed) % 37 == 0)
        steps = {
            "redact_score": lambda: docs.select(
                "doc_id", "source", "lang",
                redact_pii("text").alias("text"),
                quality_score("text").alias("quality"),
                token_count("text").alias("n_tokens"),
                *pii_counts("text"),
            ),
            "chunk_dup": lambda: chunk_dup_fraction(docs, 32, 32).select("doc_id", "dup_chunk_frac"),
            "minhash": lambda: minhash_signatures_md5(docs, k=8),
            "lsh_candidates": lambda: lsh_candidate_pairs_md5(out["minhash"], k=8, bands=4),
            "jaccard_verify": lambda: jaccard_verify(docs, out["lsh_candidates"], threshold=0.2),
            "connected_components": lambda: connected_components(out["jaccard_verify"]),
            "decontaminate": lambda: contaminated_ids(docs, evals, n=4).select("doc_id"),
            "leakage_split": lambda: leakage_safe_split(docs, out["jaccard_verify"]).select("doc_id", "split"),
        }
        out: dict = {}
        for name, step in steps.items():
            ok, out[name] = self._op(rec, "op", "operators", name, step)
            if not ok:
                return None
        cc = out["connected_components"]
        return (
            out["redact_score"]
            .join(out["chunk_dup"], "doc_id")
            .filter(F.col("dup_chunk_frac") < 0.8)
            .join(F.broadcast(cc), "doc_id", "left")
            .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
            .join(out["decontaminate"], "doc_id", "left_anti")
            .join(out["leakage_split"], "doc_id")
        )

    def _land_and_read(self, rec: Recorder, curated):
        from pyspark.sql import functions as F

        from fuse_query_spark.sources.sinks import read_partitioned, write_partitioned

        ok, _ = self._op(
            rec, "write", "sources", "write_partitioned",
            write_partitioned, curated, self.out_dir, ("split",), "overwrite", 5_000_000, "static",
        )
        if not ok:
            return None

        def read_back():
            landed = read_partitioned(self.spark, self.out_dir)
            row = landed.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("doc_id").alias("docs"),
                F.bit_xor(F.xxhash64(*sorted(landed.columns))).alias("h"),
            ).collect()[0]
            return tuple(row)

        return self._op(rec, "read", "sources", "read_partitioned", read_back)[1]

    def _span(self, name: str, fn, *args):
        return fn(*args) if self.tracer is None else self.tracer.call(name, fn, *args)

    def _decode(self, rec: Recorder, name: str) -> None:
        spec = self.registry[name]

        def build_and_force():
            df = self._span("queries.build", spec.fn, self.spark, self.data_dir)
            self._span("force.save", force, df)
            if self.tracer is not None:
                self.tracer.replan(df)

        self._op(rec, "read", "queries", name, build_and_force)

    def _check_decode(self, rec: Recorder, name: str) -> None:
        """Warm pass: the row runs through its DuckDB oracle comparison."""
        ok, res = rec.run("read", name, _check_one, self.spark, self.data_dir, name, self.registry[name])
        if ok and res[0] != "ok":
            rec.fail(res[1])

    def _pass(self, rec: Recorder, check: bool) -> None:
        t0, start = time.perf_counter(), time.time()
        curated = self._chain(rec)
        fp = None if curated is None else self._land_and_read(rec, curated)
        if check:
            self._check_decode(rec, DECODE_ROW)
        else:
            self._decode(rec, DECODE_ROW)
        rec.add_pass(start, time.perf_counter() - t0)
        if fp is None:
            return
        n, distinct, _ = fp
        if check:
            expected = curated.count()
            if n != expected:
                rec.fail(f"landed {n} rows, curated {expected}")
            self.fingerprint = fp
        if distinct != n:
            rec.fail(f"splits overlap: {n} landed rows, {distinct} distinct docs")
        if fp != self.fingerprint:
            rec.fail(f"landed fingerprint {fp} differs from the first pass {self.fingerprint}")

    def run(self, rec: Recorder, seconds: float | None) -> None:
        """The checked warm pass when `seconds` is None, else passes
        until `seconds` have passed."""
        if seconds is None:
            self._pass(rec, check=True)
            return
        deadline = time.perf_counter() + seconds
        while True:
            self._pass(rec, check=False)
            if time.perf_counter() >= deadline:
                return

    def verify(self, rec: Recorder) -> None:
        pass
