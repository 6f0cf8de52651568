"""Session resources: the driver heap follows the machine, and operators
leave no persistent RDD behind once their result no longer needs it."""

import pytest

from maup_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "meminfo, heap",
    [
        ("MemTotal:       16777216 kB\nMemFree: 1 kB\n", "4096m"),  # 16 GB
        ("MemFree: 1 kB\nMemTotal: 2097152 kB\n", "1024m"),  # 2 GB: floor
        ("MemTotal: 268435456 kB\n", "24576m"),  # 256 GB: ceiling
        ("MemFree: 1 kB\n", "24576m"),  # no MemTotal line
        (None, "24576m"),  # unreadable
    ],
)
def test_default_driver_memory_is_a_quarter_of_ram(tmp_path, meminfo, heap):
    path = tmp_path / "meminfo"
    if meminfo is not None:
        path.write_text(meminfo)
    assert default_driver_memory(str(path)) == heap


def _persistent(spark) -> dict:
    """Every persistent RDD of the session: id -> locally checkpointed."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k): rdds.get(k).rdd().isLocallyCheckpointed() for k in rdds.keySet()}


def test_connected_components_releases_its_edge_cache(spark):
    """The star rounds' local checkpoints are the returned DataFrame's
    input; the JVM frees them only when it collects the DataFrames that
    read them, which is not prompt (with adaptive execution it was seen
    to take longer than any wait a test can afford).  Every other
    persistent RDD the call made, the canonical edge cache included,
    must be gone once the result is collected."""
    from maup_spark.operators.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], "node bigint")
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (4, 3), (5, 6), (6, 7), (7, 5)], "src bigint, dst bigint"
    )
    before = _persistent(spark)
    got = dict(connected_components(nodes, edges).collect())
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 5, 7: 5}
    new = {k: ckpt for k, ckpt in _persistent(spark).items() if k not in before}
    assert all(new.values()), new


def test_source_divergence_leaves_no_persistent_rdd(spark):
    from maup_spark.functions.dsir import source_divergence

    docs = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("a", "the quick brown fox"),
            ("b", "lorem ipsum dolor sit amet consectetur"),
        ],
        "source string, text string",
    )
    before = _persistent(spark)
    rows = source_divergence(docs, n_buckets=64).collect()
    assert sorted(r["source"] for r in rows) == ["a", "b"]
    # no cache and no checkpoint, even while the result is reachable
    assert _persistent(spark).keys() - before.keys() == set()
