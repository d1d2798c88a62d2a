"""The benchmark's workloads: closed loops with one client.

Each workload builds the program's own state in :meth:`setup` (charged to
``setup_s``, warm-up op included), computes the expected answers with the
registered DuckDB oracles in :meth:`expect` (the benchmark's own work, not
charged), and runs one op per :meth:`op` call. The op returns what it
produced so :meth:`check` can compare it outside the timed region.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import Sizes
from tests.oracle import _rows, duckdb_con

#: the 20 instances the listing derives (``user_id % 20``)
FLEET = tuple(f"OCG_INST{i}" for i in range(20))


class Workload:
    name = ""
    sizes = Sizes()
    #: a run measures for ``--seconds`` and at least this many ops
    min_ops = 1
    #: spans that must fire during the timed ops; every other traced span
    #: must stay idle
    spans: frozenset[str] = frozenset()

    def prepare(self, ctx) -> None:
        """Benchmark-side inputs derived from the generated tables."""

    def setup(self, ctx) -> None:
        raise NotImplementedError

    def expect(self, ctx) -> None:
        raise NotImplementedError

    def op(self, ctx, i: int):
        """Run op ``i``; return ``(items, output)`` or ``None`` when the
        workload has no more input."""
        raise NotImplementedError

    def check(self, ctx, output) -> bool:
        raise NotImplementedError

    def final_check(self, ctx) -> bool:
        return True


def _oracle_rows(sql: str, data_dir: str, documents_where: str | None = None) -> list:
    con = duckdb_con(data_dir)
    try:
        if documents_where is not None:
            con.execute(
                "CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet("
                f"'{data_dir}/documents.parquet') WHERE {documents_where}"
            )
        return _rows(con.execute(sql).df())
    finally:
        con.close()


class RestoreFleet(Workload):
    """One op restores one group of instances through the whole lifecycle:
    listing, ZIP probe and audited publish per instance, the 12-step
    de-live facts, stale counts and the audited report publish, read back
    from the published copy. The seed-shuffled fleet is cut into groups
    that the ops take in turn; the generated listing gives every instance
    the same probe sequence, so every group does the same work."""

    name = "restore_fleet"
    group_size = 4
    spans = frozenset(
        {"listing.candidates", "restore_e2e.instance", "delive.facts",
         "zipsource.extract", "loader.publish"}
    )

    def setup(self, ctx) -> None:
        from ufload_spark.operators.restore_e2e import (
            ensure_candidate_zips,
            restore_instances,
        )

        order = tuple(ctx.rng.permutation(FLEET))
        self.groups = [
            order[k:k + self.group_size] for k in range(0, len(order), self.group_size)
        ]
        with ctx.timed("restore_e2e.zip_build_s"):
            for g in self.groups:
                ensure_candidate_zips(ctx.spark, ctx.data_dir, g)
        restore_instances(ctx.spark, ctx.data_dir, self.groups[0]).toPandas()

    def expect(self, ctx) -> None:
        """The registered restore oracle with its instance list widened to
        the fleet; each op is checked against its group's rows."""
        from ufload_spark.operators.restore_e2e import RESTORE_INSTANCES
        from ufload_spark.plans.registry import QUERIES

        sql = QUERIES["restore_end_to_end"].oracle
        narrow = ", ".join(f"'{i}'" for i in RESTORE_INSTANCES)
        if sql.count(narrow) != 2:
            raise RuntimeError("restore oracle no longer lists its instances twice")
        wide = sql.replace(narrow, ", ".join(f"'{i}'" for i in FLEET))
        con = duckdb_con(ctx.data_dir)
        try:
            fleet = con.execute(wide).df()
        finally:
            con.close()
        self.want = {
            g: _rows(fleet[fleet["instance"].isin(g)]) for g in self.groups
        }

    def _group(self, i: int) -> tuple:
        return self.groups[(i + 1) % len(self.groups)]

    def op(self, ctx, i: int):
        from ufload_spark.operators.restore_e2e import restore_instances

        g = self._group(i)
        return len(g), (g, restore_instances(ctx.spark, ctx.data_dir, g).toPandas())

    def check(self, ctx, output) -> bool:
        g, df = output
        return _rows(df) == self.want[g]


class CurateCorpus(Workload):
    """One op runs four registered batch queries, each collected: corpus
    curation and the training export over the generated corpus, then one
    graph query (the k-core peel) and one analytics query (the part
    recommendations) over small TPC-H tables. The graph and analytics queries ride here instead of in a
    workload of their own, which the benchmark's time budget has no room
    for (see ``perfbench/README.md``)."""

    name = "curate_corpus"
    sizes = Sizes(customers=300, suppliers=20, parts=400, orders=3000, lineitems=12_000)
    spans = frozenset(
        {"pipeline.curate", "pipeline.export", "graph.kcore", "analytics.recommendations"}
    )
    queries = (
        ("pipeline.curate", "pipeline_curate_documents"),
        ("pipeline.export", "pipeline_training_export"),
        ("graph.kcore", "graph_kcore_peel"),
        ("analytics.recommendations", "part_recommendations_topn"),
    )

    def _run(self, ctx) -> list:
        from ufload_spark.plans.registry import QUERIES

        out = []
        for span, q in self.queries:
            with ctx.span(span):
                out.append(QUERIES[q].fn(ctx.spark, ctx.data_dir).toPandas())
        return out

    def setup(self, ctx) -> None:
        # the warm-up op also builds the graph queries' edge tables
        # (memo-published and bucketed), which later ops reuse
        self._run(ctx)

    def expect(self, ctx) -> None:
        from ufload_spark.plans.registry import QUERIES

        self.want = [_oracle_rows(QUERIES[q].oracle, ctx.data_dir) for _, q in self.queries]

    def op(self, ctx, i: int):
        return self.sizes.docs, self._run(ctx)

    def check(self, ctx, output) -> bool:
        return [_rows(df) for df in output] == self.want


class IngestStream(Workload):
    """One op gates one fixed-size micro-batch of held-out documents
    (``doc_id % 4 == 0``) through the exact gate, then the near-dup gate,
    against corpus indexes published once in setup. Each gate appends one
    audited segment per batch."""

    name = "ingest_stream"
    batch_docs = 50
    #: a batch takes about 3 s and the first measured one is often 1 s
    #: slower; with four ops per run, neither the median nor the tail
    #: (the second-slowest op) rests on a single op
    min_ops = 4
    spans = frozenset(
        {"streaming.exact_gate", "streaming.neardup_gate", "loader.publish"}
    )

    def prepare(self, ctx) -> None:
        docs = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"))
        held = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 3), 0))
        ids = ctx.rng.permutation(held["doc_id"].to_numpy())
        bdir = os.path.join(ctx.data_dir, "batches")
        os.makedirs(bdir)
        self.batches = []
        for k in range(len(ids) // self.batch_docs):
            part = ids[k * self.batch_docs:(k + 1) * self.batch_docs]
            path = os.path.join(bdir, f"b{k:04d}.parquet")
            pq.write_table(held.filter(pc.is_in(held["doc_id"], pa.array(part))), path)
            self.batches.append((path, part))
        self.done: list[np.ndarray] = []

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        from ufload_spark.operators.dedup import dedup_simhash
        from ufload_spark.sources.loader import _scratch_unique, memo_publish
        from ufload_spark.sources.tables import table

        spark, d = ctx.spark, ctx.data_dir
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        with ctx.timed("loader.memo_build_s"):
            fp_path = memo_publish(
                spark,
                "exact_fingerprints",
                d,
                lambda: table(spark, d, "documents")
                .where(F.col("doc_id") % 4 != 0)
                .select(F.md5(norm).alias("fingerprint"))
                .distinct(),
            )
            sims_path = memo_publish(
                spark,
                "simhash_fps_corpus",
                d,
                lambda: dedup_simhash(spark, d).where(F.col("doc_id") % 4 != 0),
            )
        self.corpus_fp = spark.read.parquet(fp_path).withColumnRenamed("fingerprint", "fp")
        self.corpus_sims = spark.read.parquet(sims_path)
        base = os.path.basename(d)
        self.exact_target = _scratch_unique(f"ingest_admitted_{base}")
        self.near_target = _scratch_unique(f"neardup_admitted_{base}")
        self._gate(ctx, 0)  # warm-up: the first batch, kept in the final check

    def _gate(self, ctx, k: int) -> int:
        from ufload_spark.streaming import jobs

        path, ids = self.batches[k]
        batch = ctx.spark.read.parquet(path)
        jobs.ingest_gate_batch(batch, self.exact_target, self.corpus_fp, k)
        jobs.neardup_gate_batch(batch, self.near_target, self.corpus_sims, k)
        self.done.append(ids)
        return len(ids)

    def expect(self, ctx) -> None:
        """Deferred: the expected answer depends on which batches ran."""

    def op(self, ctx, i: int):
        k = i + 1
        if k >= len(self.batches):
            return None
        return self._gate(ctx, k), None

    def check(self, ctx, output) -> bool:
        return True

    def admitted(self, ctx) -> tuple[pd.DataFrame, pd.DataFrame]:
        from pyspark.sql import functions as F

        from ufload_spark.streaming.jobs import read_admitted, read_ingest_admitted

        def census(df):
            return df.groupBy("source").agg(
                F.count("*").cast("bigint").alias("n_admitted"),
                F.min("doc_id").alias("first_doc"),
                F.max("doc_id").alias("last_doc"),
            ).toPandas()

        return (
            census(read_ingest_admitted(ctx.spark, self.exact_target)),
            census(read_admitted(ctx.spark, self.near_target)),
        )

    def final_check(self, ctx) -> bool:
        """Both admitted tables equal the batch oracles over the corpus plus
        the held-out documents that were gated (the gates promise the
        answer does not depend on batching)."""
        from ufload_spark.plans.registry import QUERIES

        done = np.concatenate(self.done)
        unseen = np.setdiff1d(
            np.arange(0, self.sizes.docs, 4, dtype="int64"), done
        )
        where = (
            "doc_id NOT IN (" + ",".join(map(str, unseen)) + ")" if len(unseen) else "true"
        )
        exact, near = self.admitted(ctx)
        self.n_offered = len(done)
        self.n_admitted_near = int(near["n_admitted"].sum())
        want = [
            _oracle_rows(QUERIES[q].oracle, ctx.data_dir, where)
            for q in ("streaming_ingest_gate", "streaming_neardup_gate")
        ]
        return [_rows(exact), _rows(near)] == want


WORKLOADS = {w.name: w for w in (RestoreFleet, CurateCorpus, IngestStream)}
