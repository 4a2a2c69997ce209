"""Degenerate inputs give empty results, not crashes."""

from bigdataproj_spark.registry import load_all
from bigdataproj_spark.session import run_parallel


def test_run_parallel_with_no_thunks_returns_empty_list():
    assert run_parallel() == []


def test_pagerank_over_empty_edge_set_is_empty(spark, sf_dir, tmp_path):
    # zero-row lineitem/orders with the fixture schemas: no trading
    # edge, so no node to rank
    for t in ("lineitem", "orders"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(0).write.parquet(
            str(tmp_path / f"{t}.parquet")
        )
    out = load_all()["r43_graph_pagerank"].build(spark, str(tmp_path))
    assert out.columns == ["rank", "node", "node_type", "degree", "pagerank"]
    assert out.count() == 0
