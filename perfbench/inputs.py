"""Seeded benchmark inputs and their DuckDB references, cached per seed.

Everything here runs before any timer starts and never touches Spark:

- ``documents``: a fixed synthetic corpus (30-word vocabulary, 10-100
  words per doc, 5% near-duplicates marked ``dup``, five languages) with the
  shape of the engine's ``documents`` table. The seed only remaps the doc
  ids into [0, 100000), so urls, geotags and tile assignment change with the
  seed while text statistics and url uniqueness do not. ``pages`` derive
  from it through ``fixtures.pages_df`` (x120 replicas: 30k pages).
- ``edges`` / ``centers``: the bulk polygon and center generators of
  ``engine.pipeline.fixtures`` seeded from the benchmark seed, radii
  0.5-4 degrees like the per-sf polygon fixture.
- references: order-independent integer digests that DuckDB and Spark
  compute with the same arithmetic (no engine-specific hash), plus the
  rows of a url sample for exact row comparison.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

# Input sizes, below sf0.1's 600k pages and 50k polygons so that a run stays
# under a minute on a 4-core host (see README.md).
N_DOCS = 250  # pages = N_DOCS x 120 replicas = 30k
N_POLYS = 20_000  # polygons (~120k edges) and kNN centers
N_DEDUP_DOCS = 2_500  # dedup corpus; with its near-dup twins 5k docs
POLY_R = (0.5, 4.0)  # polygon radius range in degrees
CORPUS_SEED = 20240101  # fixed text corpus; the run seed only remaps ids
Z_MAX = 14  # the pyramid depth of q_tile_counts_sql
TILE_CAP = 200_000  # the tile job's per-tile feature cap
KNN_K = 3

P = 2147483647  # digest modulus (2^31 - 1); every product stays < 2^63
SAMPLE_PRED = "substr(url, 28, 2) = '00'"  # ~1/256 of urls, both dialects
TILE_SAMPLE_MOD = 64  # tiles decoded by the check: digest % 64 == 0

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def tile_hash_sql(n: str = "n_features") -> str:
    """Per-tile digest term over (z, x, y, n); same text in Spark and DuckDB."""
    key = f"(((z * 32768 + x) % {P}) * 32768 + y) % {P}"
    return f"(({key}) * 48271 + {n}) % {P}"


def url_a_sql(dialect: str) -> str:
    """First 8 hex digits of the url's hash part as an integer (< 2^32)."""
    if dialect == "spark":
        return "cast(conv(substring(url, 28, 8), 16, 10) as bigint)"
    return "CAST(('0x' || substr(url, 28, 8)) AS BIGINT)"


def join_hash_sql(dialect: str, knn: bool) -> str:
    extra = "poly_id * 4 + rank" if knn else "poly_id"
    return f"((({url_a_sql(dialect)} % {P}) * 48271 + {extra}) % {P})"


class Inputs:
    """Paths of one seed's inputs under ``root`` (created on demand)."""

    def __init__(self, root: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(root, f"seed{seed}")
        self.pages_dir = os.path.join(self.dir, "sf0.01")
        self.dedup_docs = os.path.join(self.dir, "dedup", "documents.parquet")
        self.edges = os.path.join(self.dir, "edges.parquet")
        self.centers = os.path.join(self.dir, "centers.parquet")
        self.ref_path = os.path.join(self.dir, "reference.json")

    def ensure(self) -> None:
        done = os.path.join(self.dir, "_inputs_done")
        if os.path.exists(done):
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        docs = documents(self.seed)
        os.makedirs(self.pages_dir)
        os.makedirs(os.path.dirname(self.dedup_docs))
        docs.to_parquet(os.path.join(self.pages_dir, "documents.parquet"), index=False)
        documents(self.seed, N_DEDUP_DOCS).to_parquet(self.dedup_docs, index=False)
        edges, centers = polygons(self.seed)
        edges.to_parquet(self.edges, index=False)
        centers.to_parquet(self.centers, index=False)
        open(done, "w").close()

    def reference(self, key: str) -> dict:
        """DuckDB reference ``key`` (tiles, enrich, dedup), computed once."""
        refs = {}
        if os.path.exists(self.ref_path):
            with open(self.ref_path) as f:
                refs = json.load(f)
        if key not in refs:
            build = {"tiles": tile_reference, "enrich": enrich_reference}
            refs[key] = build.get(key, dedup_reference)(self)
            tmp = f"{self.ref_path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(refs, f)
            os.replace(tmp, self.ref_path)
        return refs[key]


def documents(seed: int, n: int = N_DOCS):
    import pandas as pd

    rng = np.random.default_rng(CORPUS_SEED)
    n_words = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k : e]) for k, e in zip(n_words, ends)]
    # 5% near-duplicates: an earlier doc's text plus one marker word
    dup_of = rng.integers(0, n, n)
    for i in np.flatnonzero(rng.random(n) < 0.05)[1:]:
        texts[i] = texts[dup_of[i] % i] + " dup"
    lang = rng.choice(LANGS, n, p=LANG_P)
    ids = np.sort(
        np.random.default_rng(seed).choice(100_000, n, replace=False)
    ).astype(np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def polygons(seed: int):
    """(edges, centers) from the engine's bulk generators, seeded."""
    import pandas as pd

    from engine.pipeline import fixtures

    edges = fixtures.polygon_edges_bulk_np(N_POLYS, *POLY_R, seed=seed)
    # same spatial distribution as fixtures.polygon_centers_table_bulk
    rng = np.random.default_rng(seed)
    clat = rng.uniform(-60, 60, N_POLYS)
    clon = rng.uniform(-170, 170, N_POLYS)
    ids = np.arange(N_POLYS, dtype=np.int64)
    centers = pd.DataFrame(
        {
            "poly_id": ids,
            "name": np.char.add("poly_", ids.astype(str)),
            "clon": np.round(clon, 6),
            "clat": np.round(clat, 6),
        }
    )
    return edges, centers


def _duck(inp: Inputs, docs: str | None = None):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(inp.dir, 'duckdb.tmp')}'")
    docs = docs or os.path.join(inp.pages_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    return con


def tile_reference(inp: Inputs) -> dict:
    """Digest of DuckDB's per-tile page counts over z0-Z_MAX (the
    q_tile_counts_sql twin); the point tiler emits one feature per page per
    tile, so Spark's per-tile n_features must reproduce it."""
    from engine.pipeline import queries

    con = _duck(inp)
    try:
        counts = queries.q_tile_counts_sql(inp.pages_dir)  # z0-z14
        out = {}
        for name, cap in (("uncapped", None), ("capped", TILE_CAP)):
            n = "n_pages" if cap is None else f"least(n_pages, {cap})"
            h = tile_hash_sql("n")
            row = con.execute(
                f"SELECT count(*), sum(n), sum({h}), sum(({h}) * ({h}) % {P}), max(n) "
                f"FROM (SELECT z, x, y, {n} AS n FROM ({counts}) _c) _t"
            ).fetchone()
            out[name] = [int(v) for v in row]
        return out
    finally:
        con.close()


def enrich_reference(inp: Inputs) -> dict:
    """pip_oracle_sql over every page (count + digest + the sampled urls'
    rows) and knn_oracle_sql over the sampled urls only: the oracle's
    cross join is exact but quadratic, and a url's k nearest centers do
    not depend on the other urls, so the sample's rows are exact."""
    from engine.pipeline import fixtures, joins

    con = _duck(inp)
    try:
        edges = (
            f"poly_edges AS (SELECT poly_id, ring_idx, x1, y1, x2, y2 "
            f"FROM read_parquet('{inp.edges}'))"
        )
        centers = (
            f"poly_centers AS (SELECT poly_id, name, clon, clat "
            f"FROM read_parquet('{inp.centers}'))"
        )
        pages = fixtures.pages_cte(inp.pages_dir)
        ctes = f"{pages}, {fixtures.geotag_cte()}, {edges}"
        h = join_hash_sql("duckdb", knn=False)
        pip = con.execute(
            f"SELECT count(*), sum({h}), sum({h} * {h} % {P}) "
            f"FROM ({joins.pip_oracle_sql(ctes)}) _p"
        ).fetchone()
        pip_rows = con.execute(
            f"SELECT url, poly_id FROM ({joins.pip_oracle_sql(ctes)}) _p "
            f"WHERE {SAMPLE_PRED} ORDER BY url, poly_id"
        ).fetchall()
        sampled = (
            f"{fixtures.pages_cte(inp.pages_dir, alias='pages_all')}, "
            f"pages AS (SELECT * FROM pages_all WHERE {SAMPLE_PRED}), "
            f"{fixtures.geotag_cte()}, {centers}"
        )
        knn_rows = con.execute(
            f"SELECT url, poly_id, rank, dist2 FROM "
            f"({joins.knn_oracle_sql(sampled, KNN_K)}) _k ORDER BY url, rank"
        ).fetchall()
        n_pages = con.execute(
            f"WITH {pages} SELECT count(*) FROM pages"
        ).fetchone()[0]
        return {
            "pip": [int(v) for v in pip],
            "pip_rows": [list(r) for r in pip_rows],
            "knn_count": int(n_pages) * KNN_K,
            "knn_rows": [list(r) for r in knn_rows],
        }
    finally:
        con.close()


def dedup_reference(inp: Inputs) -> list:
    """cluster.corpus_prep_sql (recursive-closure oracle) over the dedup
    corpus: (doc_id, lang, cluster_id, n_words, bucket) rows."""
    from engine.textops import cluster

    con = _duck(inp, inp.dedup_docs)
    try:
        rows = con.execute(cluster.corpus_prep_sql("duckdb")).fetchall()
        return sorted([int(a), str(b), int(c), int(d), int(e)] for a, b, c, d, e in rows)
    finally:
        con.close()
