"""The benchmark's workloads: seeded inputs, the timed operations, and the
checks that prove each operation's output correct.

A workload is staged once per run, then driven as *passes*: one pass runs
every operation of the workload once, back to back, from a single client
(a closed loop). Each operation is split into ``build`` (driver-side
DataFrame construction, including any eager probes the operators run) and
``run`` (execution to Spark's ``noop`` sink, or the eager store writes of
an ingest batch). The plans come from the repo's own entry points:
``__spark_entry__.queries()``, ``bench._pit_asof_job`` and
``operators.pipeline.ingest_clean_batch``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import inputs


@dataclass
class Op:
    """One timed operation. In the excluded check pass ``collect`` (if
    given) replaces ``run`` and its result goes to ``verify``; otherwise
    ``verify`` receives the built object after ``run``."""

    name: str
    build: Callable[[], Any]
    run: Callable[[Any], None]
    verify: Callable[[Any], list[str]]
    collect: Callable[[Any], Any] | None = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Base: subclasses set ``name`` and ``QUERIES``, ``stage`` the inputs
    into ``data_dir`` and list their ``ops``."""

    name = ""
    QUERIES: list[str] = []
    FILES = 1  # parquet files per staged table

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.data_dir = ""
        self.info: dict = {}

    @classmethod
    def op_names(cls) -> list[str]:
        return list(cls.QUERIES)

    def stage(self, out_dir: str) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def before_pass(self) -> None:
        """Reset state a pass mutates (outside any timed window)."""

    def after_check_pass(self) -> list[str]:
        """Pass-level checks after the check pass."""
        return []

    def _stage_documents(self, out_dir: str, docs: dict) -> None:
        os.makedirs(out_dir, exist_ok=True)
        inputs.write_documents(out_dir, docs, self.FILES)
        self.data_dir = out_dir
        n = len(docs["doc_id"])
        self.info.update(documents=n, text_bytes=inputs.text_bytes(docs),
                         exact_dup_docs=n - len(set(docs["text"])))

    def _compare(self, name: str, sql: str, got) -> list[str]:
        """``got`` against the DuckDB oracle over the staged documents."""
        import duckdb  # noqa: PLC0415
        from check_oracle import compare  # noqa: PLC0415

        con = duckdb.connect()
        path = os.path.join(self.data_dir, "documents.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return [f"{name}: {p}" for p in compare(name, got, con.execute(sql).df())]

    def _query_ops(self) -> list[Op]:
        import __spark_entry__ as entrymod  # noqa: PLC0415

        qs, sqls = entrymod.queries(), entrymod.oracle_sql()

        def op(name: str) -> Op:
            return Op(
                name,
                build=lambda: qs[name](self.spark, self.data_dir),
                run=_noop,
                verify=lambda pdf: self._compare(name, sqls[name], pdf),
                collect=lambda df: df.toPandas(),
            )

        return [op(n) for n in self.QUERIES]


class QuerySuite(Workload):
    """Fixed cost per call: a headline query on a small generated corpus,
    its DataFrame built fresh, then the incremental ingest face
    (``ingest_clean_batch``) over the same documents in id-ordered batches
    into fresh stores, as bench.py's headline does."""

    name = "query_suite"
    DOCS = 500
    QUERIES = ["chunked_tokenlist"]
    BATCHES = 2

    @classmethod
    def op_names(cls) -> list[str]:
        return cls.QUERIES + [f"ingest_batch_{k}" for k in range(cls.BATCHES)]

    def stage(self, out_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        self._stage_documents(out_dir, inputs.documents(rng, self.DOCS))

    def ops(self) -> list[Op]:
        self.ingest = _Ingest(self.spark, self.data_dir,
                              os.path.join(self.work_dir, "stores"),
                              self.BATCHES, self.DOCS)
        return self._query_ops() + self.ingest.ops()

    def before_pass(self) -> None:
        self.ingest.reset()

    def after_check_pass(self) -> list[str]:
        """The stores' survivors must equal the one-shot funnel's (the
        ``incremental_clean`` oracle: stop cap off, 0.25 threshold)."""
        import __spark_entry__ as entrymod  # noqa: PLC0415

        return self._compare("ingest", entrymod._incremental_clean_sql(),
                             self.ingest.survivors())


class _Ingest:
    """``ingest_clean_batch`` over ``documents`` in ``n`` id-ordered
    batches, with bench.py's incremental config, into fresh stores."""

    def __init__(self, spark, data_dir: str, store_dir: str, n: int, n_docs: int):
        self.spark, self.data_dir, self.store_dir = spark, data_dir, store_dir
        self.n, self.step = n, -(-n_docs // n)
        self.dig, self.sig, self.out = (os.path.join(store_dir, k)
                                        for k in ("digests", "signatures", "out"))

    def reset(self) -> None:
        shutil.rmtree(self.store_dir, ignore_errors=True)

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from htrc_feature_reader_spark.operators.pipeline import (  # noqa: PLC0415
            CleanConfig, ingest_clean_batch)

        cfg = CleanConfig(stop_shingle_frac=1.0, near_dup_threshold=0.25)
        path = os.path.join(self.data_dir, "documents.parquet")

        def op(k: int) -> Op:
            def build():
                d = self.spark.read.parquet(path)
                return d.filter((F.col("doc_id") >= k * self.step)
                                & (F.col("doc_id") < (k + 1) * self.step))

            def run(batch) -> None:
                ingest_clean_batch(batch, self.dig, self.sig, cfg, out_path=self.out)

            return Op(f"ingest_batch_{k}", build, run, lambda _: [])

        return [op(k) for k in range(self.n)]

    def survivors(self):
        """The surviving rows, projected as the ``incremental_clean`` query."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        return self.spark.read.parquet(self.out).select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang",
            *[F.col(c).cast("long").alias(c)
              for c in ("n_chars", "n_tokens", "ws_tokens", "bpe_tokens")],
        ).toPandas()

    def store_stats(self) -> dict:
        files = rows = size = 0
        for sub in (self.dig, self.sig):
            for r, _, fs in os.walk(sub):
                for f in fs:
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(r, f))
            if os.path.isdir(sub):
                rows += self.spark.read.parquet(sub).count()
        return {"files": files, "rows": rows, "bytes": size}


class PerByte(Workload):
    """Per-byte cost, little fixed cost: the fold-heavy text queries over 8
    seeded replicas of a generated corpus (ids offset, 10% of words
    rewritten per replica, so replicas are near- but not exact duplicates),
    then bench.py's north-rule job (``bench._pit_asof_job``: window sorts,
    salted as-of, exchanges) over a table of ``generate_sequences``'
    shape."""

    name = "per_byte"
    BASE_DOCS = 300
    COPIES = 8
    REWRITE = 0.10
    SEQ_ROWS = 35_000
    SEQ_DOCS = 200
    # several files per table, as a corpus-scale input has: scans split
    # into one task per core instead of one task for the whole table
    FILES = 8
    QUERIES = ["tokenize_hash", "repetition"]
    PIT = "pit_asof_job"

    @classmethod
    def op_names(cls) -> list[str]:
        return cls.QUERIES + [cls.PIT]

    def stage(self, out_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        self._stage_documents(out_dir, inputs.replicate_documents(
            inputs.documents(rng, self.BASE_DOCS), self.COPIES, self.REWRITE, rng))
        self.path = os.path.join(out_dir, "sequences")
        n_tok = inputs.write_sequences(self.path, self.seed, self.SEQ_ROWS, self.SEQ_DOCS,
                                     self.FILES)
        self.info.update(sequences=self.SEQ_ROWS, token_rows=n_tok)

    def ops(self) -> list[Op]:
        from bench import _pit_asof_job  # noqa: PLC0415

        return self._query_ops() + [
            Op(self.PIT, lambda: _pit_asof_job(self.spark, self.path),
               _noop, self._verify, collect=lambda df: df.toPandas())]

    def _verify(self, out) -> list[str]:
        """Recompute every probe's as-of answer with numpy: one output row
        per probe row, matched to the latest sequence row of its doc at or
        before the probe (so ``f_seq_idx`` is the count of the doc's rows
        with ``ts <= probe ts``, and ``f_cum_n_tok`` their token sum)."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        seqs = pq.read_table(self.path, columns=["doc_id", "ts", "n_tok"]).to_pandas()
        docs = {d: i for i, d in enumerate(sorted(seqs["doc_id"].unique()))}
        span = 1 << 40  # > any timestamp in seconds

        def keys(frame):
            ts = frame["ts"].dt.tz_localize(None) if frame["ts"].dt.tz else frame["ts"]
            sec = ts.to_numpy().astype("datetime64[s]").astype(np.int64)
            return frame["doc_id"].map(docs).to_numpy(dtype=np.int64) * span + sec

        k = keys(seqs)
        order = np.argsort(k, kind="stable")
        k, tok = k[order], np.concatenate([[0], np.cumsum(seqs["n_tok"].to_numpy()[order])])
        probe = keys(out)
        start = np.searchsorted(k, probe // span * span, "left")
        end = np.searchsorted(k, probe, "right")
        if len(out) != self.SEQ_ROWS:
            return [f"{self.PIT}: {len(out)} output rows for {self.SEQ_ROWS} probes"]
        wrong = ((out["f_seq_idx"].to_numpy() != end - start)
                 | (out["f_cum_n_tok"].to_numpy() != tok[end] - tok[start]))
        if wrong.any():
            return [f"{self.PIT}: {int(wrong.sum())} probes matched to the wrong feature row"]
        return []


WORKLOADS = {w.name: w for w in (QuerySuite, PerByte)}
