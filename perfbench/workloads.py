"""The benchmark's workloads: closed loop, one client, each operation
submitted only after the previous one returned.

A workload pass is a list of timed operations. Every operation has a role
that the end-to-end metrics are built from:

  build        a full rebuild DAG (medallion full load; retrieval indexes)
  incremental  incremental maintenance of standing state (a one-month
               reload)
  query        one interactive request (an A5-A11 SQL query fetched to the
               client; one hybrid serve request)

Every workload has a build and queries; ``query_p50_s`` is the median
request of the pass.

Output checks run between and after operations, never inside a timed one.
"""

from __future__ import annotations

import glob
import math
import os
import random
import sys
import time
from dataclasses import dataclass, field
from time import perf_counter

import numpy as np
import pyarrow.parquet as pq

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARTS = (
    "mart_salesbybrandtype",
    "mart_salesbysupplier",
    "mart_salesbydatetime",
    "mart_salesbyregion",
)
N_RELOADS = 1
N_SERVE = 6
SERVE_K = 10
RRF_K = 60.0


@dataclass
class Op:
    name: str
    role: str
    wall_s: float
    ok: bool


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)
    checks: list[tuple[str, bool]] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    # observations that are recorded but do not count as checks
    notes: dict[str, object] = field(default_factory=dict)
    check_s: float = 0.0  # wall spent in output checks, outside every timed op

    def timed(self, name: str, role: str, fn, tracer=None):
        """Run ``fn`` as one timed operation; returns its result, or None
        if it raised (the failure is counted, the pass goes on)."""
        span = tracer.open(name, "phase") if tracer else None
        t0 = perf_counter()
        ok, out = False, None
        try:
            out = fn()
            ok = True
        except Exception as exc:  # a failed operation is a result, not a crash
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}")
        finally:
            wall = perf_counter() - t0
            if span:
                tracer.close(span, ok)
        self.ops.append(Op(name, role, wall, ok))
        return out

    def check(self, name: str, fn) -> None:
        ok = False
        t0 = perf_counter()
        try:
            ok = bool(fn())
        except Exception as exc:
            self.errors.append(f"check {name}: {type(exc).__name__}: {exc}")
        self.check_s += perf_counter() - t0
        if not ok:
            self.errors.append(f"check {name} failed")
        self.checks.append((name, ok))


def _oracle_compare():
    """The repository's DuckDB oracle harness, ``tests/oracle_compare.py``."""
    tests = os.path.join(ROOT, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle_compare

    return oracle_compare


# ------------------------------------------------------------ retail_nightly
def _scan(mart_dir: str) -> str:
    return f"read_parquet('{mart_dir}/**/*.parquet', hive_partitioning = true)"


def _mart_by_month(con, mart_dir: str):
    return con.execute(
        f"""SELECT CAST(purchase_year AS INT) * 100 + CAST(purchase_month AS INT) AS ym,
                   SUM(total_purchase_amount) AS s, SUM(count_of_purchase) AS n
            FROM {_scan(mart_dir)}
            GROUP BY 1 ORDER BY 1"""
    ).fetchall()


def _mart_rows(con, mart_dir: str) -> list[tuple]:
    rows = con.execute(f"SELECT * FROM {_scan(mart_dir)}").fetchall()
    # group keys are the non-float columns; sort on them alone
    return sorted(rows, key=lambda r: tuple(repr(x) for x in r if not isinstance(x, float)))


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _rows_close(a: list[tuple], b: list[tuple]) -> bool:
    return len(a) == len(b) and all(
        len(x) == len(y) and all(
            _close(u, v) if isinstance(u, float) else u == v for u, v in zip(x, y)
        )
        for x, y in zip(a, b)
    )


def retail_nightly(spark, inputs: str, out_dir: str, seed: int, tracer=None) -> Pass:
    """Full medallion load in a fresh JVM, as the nightly job runs, then a
    seeded one-month reload, then the analysts' A5-A11 SQL set, each query
    fetched to the client."""
    from aws_glue_etl_sample_hist_spark.oracles import ORACLE_SQL
    from aws_glue_etl_sample_hist_spark.plans.medallion import run_medallion
    from aws_glue_etl_sample_hist_spark.sql import ATHENA_SQL, run_athena_sql

    compare_pandas = _oracle_compare().compare_pandas
    p = Pass()
    con = _oracle_compare().duckdb_connection(inputs)
    gold = os.path.join(out_dir, "gold")
    reloads = random.Random(seed).sample(gen.months(), N_RELOADS)

    p.timed("medallion_full", "build", lambda: run_medallion(spark, inputs, out_dir), tracer)
    truth = con.execute(
        """SELECT CAST(strftime(l_shipdate, '%Y%m') AS INT) AS ym,
                  SUM(l_extendedprice), COUNT(*)
           FROM lineitem GROUP BY 1 ORDER BY 1"""
    ).fetchall()

    def marts_match() -> bool:
        return all(_rows_close(_mart_by_month(con, f"{gold}/{m}"), truth) for m in MARTS)

    p.check("marts_match_lineitem", marts_match)
    before = {m: _mart_rows(con, f"{gold}/{m}") for m in MARTS}
    for month in reloads:
        t_reload = time.time()
        p.timed(
            f"medallion_month_{month}", "incremental",
            lambda: run_medallion(spark, inputs, out_dir, months=[month]), tracer,
        )
        # whether the reload rewrote the month's silver and gold partitions
        part = f"purchase_year={month[:4]}/purchase_month={month[4:]}"
        p.notes[f"reload_{month}_rewrote"] = {
            tier: any(
                os.path.getmtime(f) >= t_reload
                for f in glob.glob(os.path.join(out_dir, tier, part, "*.parquet"))
            )
            for tier in ("silver/purchase_all_info", f"gold/{MARTS[0]}")
        }
    p.check(
        "marts_unchanged_by_reload",
        lambda: all(_rows_close(_mart_rows(con, f"{gold}/{m}"), before[m]) for m in MARTS),
    )
    for name in ATHENA_SQL:
        pdf = p.timed(
            f"sql_{name}", "query",
            lambda: run_athena_sql(spark, inputs, name).toPandas(), tracer,
        )
        if pdf is not None:
            p.check(
                f"sql_{name}_oracle",
                lambda: compare_pandas(pdf, con.execute(ORACLE_SQL[f"sql_{name}"]).df())[
                    "values_match"
                ],
            )
    con.close()
    return p


# ------------------------------------------------------------ corpus_serve
def _serve_requests(inputs: str, seed: int) -> list[tuple[list[str], int, list[float]]]:
    rng = random.Random(seed)
    emb = pq.read_table(os.path.join(inputs, "embeddings.parquet"))
    ids = emb.column("vec_id").to_pylist()
    vecs = emb.column("embedding").to_pylist()
    out = []
    for _ in range(N_SERVE):
        terms = rng.sample(gen.VOCAB, rng.randint(1, 3))
        i = rng.randrange(len(ids))
        out.append((terms, ids[i], [float(x) for x in vecs[i]]))
    return out


class ServeReference:
    """The hybrid answer recomputed outside Spark from the generated
    inputs: BM25 (``operators.ranking.bm25_topk`` math) over the retrieval
    plan's cleaned corpus, exact cosine top-20 (the IVF side probes all
    8 cells, so it is exact), reciprocal-rank fusion, top 10."""

    def __init__(self, inputs: str):
        from aws_glue_etl_sample_hist_spark.operators.ranking import BM25_B, BM25_K1
        from aws_glue_etl_sample_hist_spark.plans.retrieval import QUALITY_MIN_CHARS

        docs = pq.read_table(os.path.join(inputs, "documents.parquet")).to_pandas()
        keep = docs.groupby("text").doc_id.transform("min") == docs.doc_id
        docs = docs[keep & (docs.n_chars >= QUALITY_MIN_CHARS)]
        self.ids = docs.doc_id.to_numpy()
        toks = [t.strip().split() for t in docs.text]
        self.tf = [
            {w: c for w, c in zip(*np.unique([x.lower() for x in d], return_counts=True))}
            for d in toks
        ]
        self.dl = np.array([len(d) for d in toks], dtype=float)
        self.k1, self.b = BM25_K1, BM25_B
        emb = pq.read_table(os.path.join(inputs, "embeddings.parquet")).to_pandas()
        self.all_vecs = dict(zip(emb.vec_id, emb.embedding))
        cleaned = set(self.ids.tolist())
        self.vec_ids = np.array([v for v in emb.vec_id if v in cleaned])
        self.mat = np.stack([self.all_vecs[v] for v in self.vec_ids]).astype(np.float64)
        self.norms = np.linalg.norm(self.mat, axis=1)

    def _ranked(self, ids, scores, k: int) -> dict[int, int]:
        order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))[:k]
        return {int(ids[i]): r + 1 for r, i in enumerate(order)}

    def lexical(self, terms: list[str], k: int = 20) -> dict[int, int]:
        n, avgdl = len(self.ids), self.dl.mean()
        score = np.zeros(n)
        hit = np.zeros(n, dtype=bool)
        for t in terms:
            tf = np.array([d.get(t, 0) for d in self.tf], dtype=float)
            df = int((tf > 0).sum())
            if not df:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            c = idf * tf * (self.k1 + 1.0) / (
                tf + self.k1 * (1.0 - self.b + self.b * self.dl / avgdl)
            )
            score += np.where(tf > 0, c, 0.0)
            hit |= tf > 0
        rounded = [round(float(s), 4) for s in score]
        idx = np.flatnonzero(hit)
        return self._ranked(self.ids[idx], [rounded[i] for i in idx], k)

    def semantic(self, qid: int, qvec: list[float], k: int = 20) -> dict[int, int]:
        q = np.asarray(qvec, dtype=np.float64)
        # operators.similarity.cosine: dot / greatest(|a| * |b|, 1e-12)
        cos = (self.mat @ q) / np.maximum(self.norms * np.linalg.norm(q), 1e-12)
        mask = self.vec_ids != qid
        return self._ranked(self.vec_ids[mask], cos[mask].tolist(), k)

    def answer(self, terms: list[str], qid: int, qvec: list[float]) -> list[int]:
        lex, sem = self.lexical(terms), self.semantic(qid, qvec)
        fused = {
            d: round(
                (1.0 / (RRF_K + lex[d]) if d in lex else 0.0)
                + (1.0 / (RRF_K + sem[d]) if d in sem else 0.0),
                6,
            )
            for d in set(lex) | set(sem)
        }
        return sorted(fused, key=lambda d: (-fused[d], d))[:SERVE_K]


def corpus_serve(spark, inputs: str, out_dir: str, seed: int, tracer=None) -> Pass:
    """The retrieval index build, then hybrid serve requests over its
    persisted artifacts."""
    from aws_glue_etl_sample_hist_spark.plans.retrieval import run_retrieval, serve_hybrid

    p = Pass()
    ret_dir = os.path.join(out_dir, "retrieval")
    requests = _serve_requests(inputs, seed)

    p.timed("retrieval_build", "build", lambda: run_retrieval(spark, inputs, ret_dir), tracer)
    reference = ServeReference(inputs)
    for i, (terms, qid, qvec) in enumerate(requests):
        rows = p.timed(
            f"serve_{i}", "query",
            lambda: serve_hybrid(spark, ret_dir, terms, (qid, qvec), k=SERVE_K).collect(),
            tracer,
        )
        if rows is not None:
            p.check(
                f"serve_{i}_top{SERVE_K}",
                lambda: [r.doc_id for r in sorted(rows, key=lambda r: r["rank"])]
                == reference.answer(terms, qid, qvec),
            )
    return p


WORKLOADS = {
    "retail_nightly": retail_nightly,
    "corpus_serve": corpus_serve,
}
