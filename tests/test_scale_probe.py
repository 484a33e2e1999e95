"""tools/scale_probe_data.build: the K× tiling keeps copy 0 identical
to the source and makes every other copy a near- (never exact)
duplicate, or refuses K when the embedding dimension is too small."""

import duckdb
import pytest

from tools.scale_probe_data import TPCH, build

DIM = 4
N_DOCS = 3


@pytest.fixture
def src(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    con = duckdb.connect()
    con.execute(f"""
    COPY (SELECT i::BIGINT AS doc_id, 'w' || i || ' x y' AS text,
                 'en' AS lang, 'web' AS source,
                 length('w' || i || ' x y')::BIGINT AS n_chars
          FROM range({N_DOCS}) t(i))
    TO '{d}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (SELECT i::BIGINT AS vec_id,
                 [i + 1.5, i + 2.5, i + 3.5, i + 4.5]::FLOAT[] AS embedding,
                 i % 2 AS label
          FROM range({N_DOCS}) t(i))
    TO '{d}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (SELECT i::BIGINT AS event_id,
                 TIMESTAMP '2024-01-01' + INTERVAL (i) HOUR AS ts,
                 i AS user_id, 'view' AS event_type, 1.0 AS value,
                 '{{}}' AS props
          FROM range(2) t(i))
    TO '{d}/events.parquet' (FORMAT PARQUET)
    """)
    for t in TPCH:
        con.execute(f"COPY (SELECT 1 AS x) TO '{d}/{t}.parquet' (FORMAT PARQUET)")
    return d


def _rows(path, key):
    return duckdb.sql(
        f"SELECT * FROM parquet_scan('{path}') ORDER BY {key}"
    ).fetchall()


def test_tiling_keeps_copy0_and_perturbs_every_other_copy(src, tmp_path):
    k = DIM + 1  # the largest K a 4-dim source allows
    dst = tmp_path / "dst"
    build(k, str(src), str(dst))
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        source = _rows(src / f"{table}.parquet", key)
        tiled = _rows(dst / f"{table}.parquet", key)
        assert len(tiled) == k * N_DOCS
        assert tiled[:N_DOCS] == source, table
        for c in range(1, k):
            copy = tiled[c * N_DOCS:(c + 1) * N_DOCS]
            for orig, row in zip(source, copy):
                assert row[0] == c * N_DOCS + orig[0]
                assert row[1] != orig[1], (table, c, orig)


def test_tiling_rejects_k_beyond_embedding_dim(src, tmp_path):
    with pytest.raises(SystemExit):
        build(DIM + 2, str(src), str(tmp_path / "dst"))
