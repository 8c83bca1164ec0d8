"""CLI smoke tests: the reference's runnable mains, end-to-end."""

import io
import contextlib

from hbase_gis_spark.cli import main
from tests.conftest import SF0001


def test_cli_bulkingest_within_knn(tmp_path, spark):
    table = str(tmp_path / "pts")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["bulkingest", table, "500", "--bbox=-75.99,-75.01,44.01,44.99"]) == 0
    assert "Generated 500 records" in out.getvalue()

    wkt = ("POLYGON ((-75.99 44.01, -75.99 44.99, -75.01 44.99, "
           "-75.01 44.01, -75.99 44.01))")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["within", "remote", wkt, "--table", table]) == 0
    assert "Query matched 500 points" in out.getvalue()

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["knn", "-75.5", "44.5", "7", "--table", table]) == 0
    assert "KNN returned 7 points" in out.getvalue()


def test_cli_spatialjoin(tmp_path, spark):
    table = str(tmp_path / "pts2")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["bulkingest", table, "200", "--bbox=-75.99,-75.01,44.01,44.99"]) == 0

    whole = ("POLYGON ((-75.99 44.01, -75.99 44.99, -75.01 44.99, "
             "-75.01 44.01, -75.99 44.01))")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["spatialjoin", whole, whole, "--table", table]) == 0
    # every point tagged by both copies of the covering polygon
    assert "Spatial join matched 400 (point, polygon) rows" in out.getvalue()


def test_cli_corpus_roundtrip(tmp_path, capsys):
    from hbase_gis_spark.cli import main

    out = str(tmp_path / "shards")
    rc = main([
        "corpus", "shuffle", "/root/testdata/sf0.001/documents.parquet",
        out, "--shards", "4",
    ])
    assert rc == 0
    assert "4 shards" in capsys.readouterr().out

    out2 = str(tmp_path / "chunks")
    rc = main([
        "corpus", "chunk", "/root/testdata/sf0.001/documents.parquet",
        out2, "--chunk-tokens", "32", "--overlap", "8",
    ])
    assert rc == 0
    assert "chunks" in capsys.readouterr().out

    out3 = str(tmp_path / "pipe")
    rc = main([
        "corpus", "pipeline", "/root/testdata/sf0.001/documents.parquet",
        out3, "--cap", "10",
    ])
    assert rc == 0
    assert "Pipeline kept" in capsys.readouterr().out


def test_cli_ann_and_cluster(tmp_path, spark):
    emb_dir = str(tmp_path / "emb")
    spark.read.parquet(f"{SF0001}/embeddings.parquet").write.parquet(emb_dir)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["ann", "0", "5", "--table", emb_dir]) == 0
    assert "ANN (exact) returned 5 neighbors" in out.getvalue()
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["ann", "0", "5", "--table", emb_dir, "--mode", "ivfpq"]) == 0
    assert "ANN (ivfpq) returned 5 neighbors" in out.getvalue()

    table = str(tmp_path / "pts3")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["bulkingest", table, "300", "--bbox=-75.99,-75.01,44.01,44.99"]) == 0
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(["cluster", "0.05", "--table", table, "--min-pts", "3"]) == 0
    assert "DBSCAN:" in out.getvalue()


def test_results_to_geojson_roundtrip(spark):
    """GeoJSON export: coordinates land in geometry, every other
    column (id included) becomes a property, row order is by id, and
    the max_rows guard trips loudly."""
    import json

    import pytest

    from hbase_gis_spark.geo.geojson import results_to_geojson

    df = spark.createDataFrame(
        [(2, -73.9, 40.7, "b"), (1, -74.0, 40.8, "a")],
        "id bigint, lon double, lat double, tag string",
    )
    fc = json.loads(results_to_geojson(df))
    assert fc["type"] == "FeatureCollection"
    assert [f["properties"]["id"] for f in fc["features"]] == [1, 2]
    assert fc["features"][0]["geometry"] == {
        "type": "Point",
        "coordinates": [-74.0, 40.8],
    }
    assert fc["features"][0]["properties"]["tag"] == "a"
    assert "lon" not in fc["features"][0]["properties"]
    with pytest.raises(ValueError):
        results_to_geojson(df, max_rows=1)


def test_cli_audit(capsys):
    from hbase_gis_spark.cli import main

    orders = "/root/testdata/sf0.001/orders.parquet"
    customer = "/root/testdata/sf0.001/customer.parquet"

    rc = main(["audit", "unique", "--table", orders,
               "--keys", "o_orderkey,o_custkey"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "o_orderkey" in out and "audit unique done" in out

    rc = main(["audit", "benford", "--table", orders,
               "--keys", "o_orderkey", "--amount", "o_totalprice"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "audit benford done" in out
    assert len([ln for ln in out.splitlines() if ln.count("\t") >= 4]) == 9

    rc = main(["audit", "orphans", "--table", orders,
               "--keys", "o_custkey", "--dim", customer,
               "--dim-key", "c_custkey"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "audit orphans done" in out

    # missing required extras exit 2, not a traceback
    assert main(["audit", "benford", "--table", orders,
                 "--keys", "k"]) == 2
    capsys.readouterr()
    assert main(["audit", "orphans", "--table", orders,
                 "--keys", "k"]) == 2


def test_cli_audit_fd(capsys):
    from hbase_gis_spark.cli import main

    docs = "/root/testdata/sf0.001/documents.parquet"
    rc = main(["audit", "fd", "--table", docs,
               "--keys", "doc_id->lang,lang->source"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "doc_id->lang\t" in out and "lang->source\t" in out
    assert "audit fd done" in out

    rc = main(["audit", "fd", "--table", docs, "--keys", "no-arrow"])
    assert rc == 2


def test_cli_search(capsys):
    from hbase_gis_spark.cli import main

    docs = "/root/testdata/sf0.001/documents.parquet"
    emb = "/root/testdata/sf0.001/embeddings.parquet"

    rc = main(["search", "lexical", "--table", docs,
               "--terms", "dup,spark,stream", "--k", "5"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "search (lexical) returned 5 docs" in out

    rc = main(["search", "hybrid", "--table", docs, "--emb", emb,
               "--terms", "dup,spark", "--query-id", "0", "--k", "5"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "search (hybrid) returned 5 docs" in out

    rc = main(["search", "hybrid", "--table", docs,
               "--terms", "dup"])  # missing --emb/--query-id
    assert rc == 2


def test_cli_prunes_from_table_layout(tmp_path, spark, monkeypatch):
    """within and spatialjoin prune from the layout the table records,
    whatever its prefix length: no column-name guess, no assumed length
    4 (which matched no partition of a prefix_len=3 table)."""
    import re

    import hbase_gis_spark.operators.spatial_join as sj_mod
    import hbase_gis_spark.operators.within as within_mod
    from hbase_gis_spark.sources.ingest import bulk_points, read_geo_table, write_geo_table

    table = str(tmp_path / "p3")
    write_geo_table(bulk_points(spark, 2000, -74.05, -73.85, 40.60, 40.90),
                    table, prefix_len=3)
    plain = read_geo_table(spark, table).withMetadata("lon", {})
    wkt = ("POLYGON ((-73.99 40.72, -73.97 40.76, -73.93 40.74, "
           "-73.95 40.70, -73.99 40.72))")

    built = []

    def spy(mod, name):
        real = getattr(mod, name)

        def wrapper(*a, **kw):
            built.append(real(*a, **kw))
            return built[-1]
        monkeypatch.setattr(mod, name, wrapper)
        return real

    within, spatial_join = spy(within_mod, "within"), spy(sj_mod, "spatial_join")
    runs = [
        (["within", "local", wkt, "--table", table],
         f"Query matched {within(plain, wkt).count()} points"),
        (["spatialjoin", wkt, "--table", table],
         f"Spatial join matched {spatial_join(plain, [('p0', wkt)]).count()} "),
    ]
    for argv, expected in runs:
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            assert main(argv) == 0
        assert expected in out.getvalue(), (argv[0], out.getvalue()[-200:])
        plan = built[-1]._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\],]*gh_prefix", plan), argv[0]
