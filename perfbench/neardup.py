"""Near-duplicate workload: a seeded corpus and the four cluster queries.

The repo's fixed ``documents`` table has a ~40-word vocabulary and can
neither be re-seeded nor varied, so this module generates its own
corpus in the same ``documents`` / ``embeddings`` schemas: words drawn
from a Zipf-skewed vocabulary, plus a planted share of edited near-
copies (text) and perturbed copies (vectors). The queries are the
driver's own ``__spark_entry__.queries()`` entries, so their parameters
are exactly the ones their DuckDB twins in ``oracle_sql()`` pin; the
expected outputs come from those twins, computed once per seed and
cached under ``.perfbench/cache/``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ingest import Checks

QUERIES = ("jaccard_pairs", "near_dup_clusters", "simhash_clusters",
           "embedding_near_dup_clusters")


@dataclass
class CorpusShape:
    n_docs: int = 400
    mean_words: float = 40.0
    vocab: int = 20_000
    zipf_s: float = 0.8
    near_copy_share: float = 0.15
    edit_rate: float = 0.1  # share of a near-copy's words replaced
    n_vectors: int = 600
    dim: int = 64
    vec_noise: float = 0.05  # perturbation of a copied vector


SHAPE = CorpusShape()


def _word(r: int) -> str:
    s = ""
    r += 26  # at least two letters
    while r:
        r, m = divmod(r, 26)
        s = chr(97 + m) + s
    return s


def generate(shape: CorpusShape, seed: int, out_dir: str) -> None:
    rng = np.random.default_rng(seed)
    words = np.array([_word(r) for r in range(shape.vocab)], dtype=object)
    p = 1.0 / np.arange(1, shape.vocab + 1) ** shape.zipf_s
    p /= p.sum()

    n = shape.n_docs
    n_copy = int(n * shape.near_copy_share)
    lens = np.clip(rng.lognormal(np.log(shape.mean_words), 0.4, n), 4, 400).astype(int)
    texts: list[str] = []
    for i in range(n - n_copy):
        texts.append(" ".join(words[rng.choice(shape.vocab, lens[i], p=p)]))
    for i in range(n - n_copy, n):
        src = texts[rng.integers(0, n - n_copy)].split(" ")
        edit = rng.random(len(src)) < shape.edit_rate
        repl = words[rng.choice(shape.vocab, int(edit.sum()), p=p)]
        src = np.array(src, dtype=object)
        src[edit] = repl
        texts.append(" ".join(src))
    order = rng.permutation(n)  # copies are not adjacent to their originals
    texts = [texts[i] for i in order]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([f"src{i % 4}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )

    m = shape.n_vectors
    m_copy = int(m * shape.near_copy_share)
    vecs = rng.normal(0.0, 0.15, (m, shape.dim))
    src_idx = rng.integers(0, m - m_copy, m_copy)
    vecs[m - m_copy:] = vecs[src_idx] + rng.normal(0.0, shape.vec_noise, (m_copy, shape.dim))
    vecs = vecs[rng.permutation(m)].astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 5, m), pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (float, np.floating)):
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else f"{v:.6g}"
    return str(v)


def value_hash(df: pd.DataFrame) -> tuple[int, str]:
    """Order-insensitive digest of a result: (rows, md5 of sorted rows
    with columns in name order and values stringified)."""
    cols = sorted(df.columns)
    rows = sorted("|".join(_cell(v) for v in r) for r in df[cols].itertuples(index=False))
    return len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle_hashes(corpus_dir: str, cache_dir: str) -> dict[str, tuple[int, str]]:
    """Digests of the DuckDB twins' results on this corpus. They take
    seconds to minutes, so they are cached under a key made of the
    corpus bytes and the SQL text: a changed generator, seed or oracle
    misses the cache."""
    import duckdb

    import __spark_entry__ as entry

    sql = {q: entry.oracle_sql()[q] for q in QUERIES}
    h = hashlib.md5(json.dumps(sql, sort_keys=True).encode())
    paths = [os.path.join(corpus_dir, f"{t}.parquet") for t in ("documents", "embeddings")]
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    cached = os.path.join(cache_dir, f"neardup-oracle-{h.hexdigest()}.json")
    if os.path.exists(cached):
        with open(cached) as fh:
            return {q: tuple(v) for q, v in json.load(fh).items()}
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t, p in zip(("documents", "embeddings"), paths):
        quoted = p.replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{quoted}')")
    out = {q: value_hash(con.sql(sql[q]).df()) for q in QUERIES}
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{cached}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, cached)
    return out


class NearDupWorkload:
    # one pass already times four queries; a second would cost ~12 s a run
    # that the benchmark's time budget does not have
    min_rounds = 1

    def __init__(self, name: str, seed: int, work: str):
        self.corpus = os.path.join(work, "corpus")
        os.makedirs(self.corpus)
        generate(SHAPE, seed, self.corpus)
        cache = os.path.join(os.path.dirname(work), "cache")  # outlives the run
        self.expected = oracle_hashes(self.corpus, cache)
        self.shape = SHAPE
        self.parallelism = None
        # rows each pass reads: three text queries and one vector query
        self.rows = SHAPE.n_docs * 3 + SHAPE.n_vectors

    def warmup(self, spark, tracer) -> None:
        res = self._pass(spark, tracer, self.corpus, self.expected)
        res["verify"]()
        if res["check"].failed:
            raise RuntimeError(f"warm-up pass failed: {res['check'].errors}")

    def start(self, spark, tracer) -> Checks:
        return Checks()

    def round(self, spark, tracer, i: int) -> dict:
        return self._pass(spark, tracer, self.corpus, self.expected)

    def finish(self, spark) -> dict:
        return {"check": Checks()}

    def _pass(self, spark, tracer, corpus: str, expected: dict) -> dict:
        """One pass of the four queries; each step builds the query and
        collects its whole result to the driver. ``verify`` compares the
        results with the oracle digests after the clock stops."""
        import __spark_entry__ as entry

        qs = entry.queries()
        steps: list[float] = []
        results = {}
        for q in QUERIES:
            s0 = time.perf_counter()
            with tracer.span(f"dedup.{q}.query"):
                df = qs[q](spark, corpus)
                with tracer.span(f"dedup.{q}.exec"):
                    results[q] = df.toPandas()
            steps.append(time.perf_counter() - s0)
            del df
        check = Checks()

        def verify():
            for q in QUERIES:
                check(value_hash(results[q]) == expected[q], f"{q} != oracle_sql")

        return {"steps": steps, "check": check, "verify": verify, "rows": self.rows,
                "epochs": len(QUERIES), "input_bytes": 0}
