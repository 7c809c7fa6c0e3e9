"""Connected components + fqn unification."""


def test_connected_components_basic(spark):
    from codegraph.canon import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string")
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"


def test_connected_components_chain(spark):
    # a long chain needs several propagation rounds
    from codegraph.canon import connected_components

    n = 20
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)],
        "src string, dst string")
    comp = connected_components(edges).collect()
    assert {r["comp"] for r in comp} == {"n00"}


def test_connected_components_long_chain_log_rounds(spark):
    # pointer doubling: a 256-link chain must converge within O(log n)
    # rounds; plain hash-min would need 256 and fail this max_iter budget
    from codegraph.canon import connected_components

    n = 256
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)],
        "src string, dst string")
    comp = connected_components(edges, max_iter=12).collect()
    assert len(comp) == n + 1
    assert {r["comp"] for r in comp} == {"n000"}
