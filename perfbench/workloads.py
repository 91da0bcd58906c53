"""The three workloads.  Each is dominated by one package module:

- ``star_sql``: registry queries (``operators``) over seeded star tables;
- ``matmul_job``: the reference's ``.dat`` multiply job (``mapreduce``,
  ``sources.matrix``, ``sinks``) on both sides of ``matmul_auto``'s
  dispatch;
- ``corpus_curate``: the curation driver, its shard sink and the ppjoin
  dedup join (``functions``) over a hot-key corpus.

An op is ``build`` (a call into a public package function, timed as plan
time) followed by ``act`` (the action, timed as exec time).  ``act``
returns a digest that the workload's ``check`` compares.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import datagen

STAR_SF = 0.01  # 60,000 lineitem rows
STAR_QUERIES = (
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q04_semi_anti_joins",
    "q05_region_revenue",
    "q30_window_topk_per_customer",
    "q23_asof_join",
)
# (L, M, N): 1024³ = 1.07e9 products takes the block-GEMM arm, 192³ the
# broadcast arm (dispatch boundary: 1e9 products).  Below these sizes the
# ops' times are fixed overheads (about 2 s and 3 s on 4 cores).
MATMUL_SHAPES = ((1024, 1024, 1024), (192, 192, 192))
CORPUS_DOCS = 1_000  # every shingle of a 31-word vocabulary is a hot key


@dataclass
class Op:
    name: str
    module: str
    build: Callable[[], object]
    act: Callable[[object], object]
    warm_act: Callable[[object], object] | None = None  # the warm-up's action


@dataclass
class Staged:
    directory: str
    records: int
    bytes: int


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class StarSql:
    name = "star_sql"
    size = f"sf={STAR_SF}: 60,000 lineitem rows, 15,000 orders, 10,000 events"

    def __init__(self, seed: int):
        self.seed = seed
        self.digests: dict[str, object] = {}

    def record(self, op: str, digest, warm: bool) -> None:
        if warm:
            self.digests[op] = digest

    def stage(self, spark, directory: str) -> Staged:
        tables = datagen.write_star_tables(directory, STAR_SF, self.seed)
        self.dir = directory
        return Staged(directory, sum(r for r, _ in tables.values()),
                      sum(b for _, b in tables.values()))

    def ops(self, spark) -> list[Op]:
        from emulating_hadoop_with_mpi_spark.registry import all_queries

        reg = all_queries()
        return [
            Op(q, "operators", lambda q=q: reg[q].fn(spark, self.dir), _noop,
               warm_act=lambda df: _rows_digest(df.collect()))
            for q in STAR_QUERIES
        ]

    def check(self, spark) -> list[str]:
        """Row count and an order-insensitive hash of every query's
        warm-up result against its DuckDB oracle over the same files."""
        import duckdb

        from emulating_hadoop_with_mpi_spark.registry import all_queries

        reg = all_queries()
        con = duckdb.connect()
        for f in glob.glob(os.path.join(self.dir, "*.parquet")):
            name = os.path.basename(f)[: -len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
        bad = []
        for q in STAR_QUERIES:
            got = self.digests.get(q)
            want = _rows_digest(con.sql(reg[q].oracle).fetchall())
            if got != want:
                bad.append(f"{q}: spark {got} != duckdb {want}")
        con.close()
        return bad

    def split(self, spark, out_dir: str) -> tuple[float, float, int]:
        """Sources decode (noop scan of every table through the package
        loader) and a parquet sink over the cached q01 result."""
        from emulating_hadoop_with_mpi_spark.registry import all_queries
        from emulating_hadoop_with_mpi_spark.sources.sinks import write_parquet
        from emulating_hadoop_with_mpi_spark.sources.tables import load_table

        names = [os.path.basename(f)[:-8] for f in glob.glob(os.path.join(self.dir, "*.parquet"))]
        decode = _timed(lambda: [_noop(load_table(spark, self.dir, n)) for n in sorted(names)])
        res = all_queries()[STAR_QUERIES[0]].fn(spark, self.dir).cache()
        res.count()
        write = _timed(lambda: write_parquet(res, out_dir))
        res.unpersist()
        return decode, write, _dir_bytes(out_dir)


class MatmulJob:
    name = "matmul_job"
    size = "1024^3 block arm + 192^3 broadcast arm: 1.08e9 L*M*N products"

    def __init__(self, seed: int):
        self.seed = seed

    def record(self, op: str, digest, warm: bool) -> None:
        pass  # checked by reading the reducer output back

    def _shapes(self):
        yield "block_1024", MATMUL_SHAPES[0]
        yield "broadcast_192", MATMUL_SHAPES[1]

    def stage(self, spark, directory: str) -> Staged:
        from emulating_hadoop_with_mpi_spark.sources.datagen import generate_matrix_file

        os.makedirs(directory, exist_ok=True)
        self.dir, self.files = directory, {}
        records = 0
        for k, (name, (l, m, n)) in enumerate(self._shapes()):
            a = generate_matrix_file(directory, l, m, seed=self.seed * 10 + 2 * k, file_id=f"{k}a")
            b = generate_matrix_file(directory, m, n, seed=self.seed * 10 + 2 * k + 1, file_id=f"{k}b")
            self.files[name] = (a, b)
            records += l * m + m * n
        return Staged(directory, records, _dir_bytes(directory))

    def ops(self, spark) -> list[Op]:
        from emulating_hadoop_with_mpi_spark.mapreduce.matmul import multiply_dat_files
        from emulating_hadoop_with_mpi_spark.sources.sinks import write_kv_text

        return [
            Op(name, "mapreduce",
               lambda ab=self.files[name]: multiply_dat_files(spark, *ab),
               lambda c, name=name: write_kv_text(c, self._out(name)))
            for name, _ in self._shapes()
        ]

    def _out(self, name: str) -> str:
        return os.path.join(self.dir, "out", name, "reducer_output")

    def check(self, spark) -> list[str]:
        """Exact ``A @ B`` against a vectorized read-back of every
        shape's last ``reducer_output``."""
        from emulating_hadoop_with_mpi_spark.sources.matrix import matrix_dims_from_name

        bad = []
        for name, (l, _, n) in self._shapes():
            a, b = (_read_dat(p, matrix_dims_from_name(p)) for p in self.files[name])
            # float64 GEMM is exact here: every sum is below 2**53
            want = np.rint(a.astype(np.float64) @ b.astype(np.float64)).astype(np.int64)
            got = _read_kv_text(self._out(name), l, n)
            if got is None or not np.array_equal(got, want):
                bad.append(f"{name}: reducer_output differs from numpy A@B")
        return bad

    def split(self, spark, out_dir: str) -> tuple[float, float, int]:
        """Sources decode (noop over ``read_matrix_coo`` per input file)
        and ``write_kv_text`` over the cached block-arm product."""
        from emulating_hadoop_with_mpi_spark.mapreduce.matmul import multiply_dat_files
        from emulating_hadoop_with_mpi_spark.sources.matrix import read_matrix_coo
        from emulating_hadoop_with_mpi_spark.sources.sinks import write_kv_text

        paths = [p for pair in self.files.values() for p in pair]
        decode = _timed(lambda: [_noop(read_matrix_coo(spark, p)) for p in paths])
        res = multiply_dat_files(spark, *self.files["block_1024"]).cache()
        res.count()
        write = _timed(lambda: write_kv_text(res, out_dir))
        res.unpersist()
        return decode, write, _dir_bytes(out_dir)


class CorpusCurate:
    name = "corpus_curate"
    size = f"{CORPUS_DOCS} fixture-style docs, 31-word vocabulary"

    def __init__(self, seed: int):
        self.seed = seed
        self.digests: dict[str, set] = {}

    def stage(self, spark, directory: str) -> Staged:
        rows, size = datagen.write_documents(directory, CORPUS_DOCS, self.seed)
        self.dir = directory
        return Staged(directory, rows, size)

    def ops(self, spark) -> list[Op]:
        from emulating_hadoop_with_mpi_spark.functions.dedup import ppjoin_pairs
        from emulating_hadoop_with_mpi_spark.functions.pipeline import (
            curate_corpus,
            write_curated_shards,
        )
        from emulating_hadoop_with_mpi_spark.sources.tables import load_table

        docs = load_table(spark, self.dir, "documents")
        shards = os.path.join(self.dir, "out", "shards")

        def write_shards(df):
            write_curated_shards(df, shards, shuffle_seed=self.seed)
            return _shards_digest(shards)

        return [
            Op("curate", "functions", lambda: curate_corpus(docs), write_shards),
            Op("ppjoin_hot", "functions", lambda: ppjoin_pairs(docs), _df_digest),
        ]

    def record(self, op: str, digest, warm: bool) -> None:
        self.digests.setdefault(op, set()).add(digest)

    def check(self, spark) -> list[str]:
        """Every op's row count and hash are identical in every sample,
        the warm-up's included."""
        return [
            f"{op}: {len(d)} different results across samples"
            for op, d in self.digests.items()
            if len(d) != 1
        ]

    def split(self, spark, out_dir: str) -> tuple[float, float, int]:
        """Sources decode (noop scan of the corpus) and the shard sink over
        the cached curated table."""
        from emulating_hadoop_with_mpi_spark.functions.pipeline import (
            curate_corpus,
            release_curate_cache,
            write_curated_shards,
        )
        from emulating_hadoop_with_mpi_spark.sources.tables import load_table

        docs = load_table(spark, self.dir, "documents")
        decode = _timed(lambda: _noop(docs))
        res = curate_corpus(docs).cache()
        res.count()
        write = _timed(lambda: write_curated_shards(res, out_dir, shuffle_seed=self.seed))
        res.unpersist()
        release_curate_cache()
        return decode, write, _dir_bytes(out_dir)


WORKLOADS = {w.name: w for w in (StarSql, MatmulJob, CorpusCurate)}


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _norm(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def _rows_digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of ``rows``."""
    canon = sorted((repr(tuple(_norm(v) for v in r)) for r in rows))
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def _df_digest(df) -> tuple[int, int]:
    """The action for pair outputs: one job computing the row count and an
    order-insensitive sum of row hashes."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)), F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 31)))
    ).first()
    return int(row[0]), int(row[1] or 0)


def _shards_digest(path: str) -> tuple[int, str]:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    keys = []
    for f in files:
        t = pq.read_table(f, columns=["chunk_id", "bin_id"])
        keys.extend(zip(t.column("chunk_id").to_pylist(), t.column("bin_id").to_pylist()))
    return _rows_digest(keys)


def _read_dat(path: str, dims: tuple[int, int]) -> np.ndarray:
    return np.fromfile(path, dtype="<i4").reshape(dims)


def _read_kv_text(path: str, rows: int, cols: int) -> np.ndarray | None:
    """Dense matrix from ``(i,k):v`` part-files; None when a cell is
    missing or repeated."""
    raw = b"".join(
        open(f, "rb").read() for f in sorted(glob.glob(os.path.join(path, "part-*")))
    )
    nums = np.array(raw.translate(bytes.maketrans(b"(),:", b"    ")).split(), dtype=np.int64)
    i, k, v = nums[0::3], nums[1::3], nums[2::3]
    if len(v) != rows * cols:
        return None
    out = np.full((rows, cols), -1, dtype=np.int64)
    out[i, k] = v
    return None if (out < 0).any() else out
