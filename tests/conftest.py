"""Shared test fixtures: one Spark session + one DuckDB oracle per run."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def tile_digest(pdf, z_max: int | None = None) -> tuple[int, str]:
    """(tile count, sha256 of the "z,x,y,mvt_sha256" lines sorted by
    (z, x, y) and joined by "\n") of collected tile rows, zooms <= z_max."""
    rows = sorted((int(r.z), int(r.x), int(r.y), r.mvt_sha256) for r in pdf.itertuples())
    lines = [f"{z},{x},{y},{h}" for z, x, y, h in rows if z_max is None or z <= z_max]
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


@pytest.fixture(scope="session")
def spark():
    from engine.pipeline.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8, app_name="tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con
