"""Z-order and Hilbert layout keys: correctness against pure-Python
references (oracle-checked end-to-end as x_zorder_key)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    layout as L,
)


def _morton_ref(a: int, b: int, bits: int = 8) -> int:
    out = 0
    for j in range(bits):
        out |= ((a >> j) & 1) << (2 * j)
        out |= ((b >> j) & 1) << (2 * j + 1)
    return out


def test_interleave_matches_python_reference(spark):
    rows = [(i, (i * 37) % 256, (i * 91) % 256) for i in range(64)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    got = df.select(
        "id", L.interleave_bits([F.col("a"), F.col("b")], 8).alias("z")
    ).collect()
    by_id = {r["id"]: r["z"] for r in got}
    for i, a, b in rows:
        assert by_id[i] == _morton_ref(a, b)


def test_scale_to_bits_clamps_and_null_maps_zero(spark):
    df = spark.createDataFrame(
        [(0, -5.0), (1, 0.0), (2, 99.9), (3, 100.0), (4, 250.0), (5, None)],
        "id long, v double",
    )
    got = {
        r["id"]: r["s"]
        for r in df.select(
            "id", L.scale_to_bits(F.col("v"), 0.0, 100.0, 4).alias("s")
        ).collect()
    }
    assert got[0] == 0          # below range clamps to 0
    assert got[1] == 0
    assert got[2] == 15         # just under hi → top cell
    assert got[3] == 15         # hi clamps to top
    assert got[4] == 15
    assert got[5] == 0          # NULL → 0, never NULL


def test_hilbert_key_matches_xy2d_and_is_bijective(spark):
    """The 4-state-machine column fold must equal the literal xy2d
    loop on every cell of a 16x16 grid (order 4) and be a bijection
    onto 0..255."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.layout import (
        hilbert_key,
    )

    def xy2d(order, x, y):
        d = 0
        s = 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    cells = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(cells, "x bigint, y bigint")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.select(
            "x", "y", hilbert_key(F.col("x"), F.col("y"), bits=4).alias("d")
        ).collect()
    }
    assert got == {(x, y): xy2d(4, x, y) for x, y in cells}
    assert sorted(got.values()) == list(range(256))


def test_hilbert_adjacency_beats_morton(spark):
    """THE Hilbert property: consecutive curve positions are always
    grid-adjacent (|dx|+|dy| == 1), while the Morton curve jumps
    across power-of-two seams — the locality reason to range-
    partition on the Hilbert key."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.layout import (
        hilbert_key,
        interleave_bits,
    )

    cells = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(cells, "x bigint, y bigint")
    rows = df.select(
        "x",
        "y",
        hilbert_key(F.col("x"), F.col("y"), bits=4).alias("h"),
        interleave_bits([F.col("x"), F.col("y")], bits=4).alias("z"),
    ).collect()
    by_h = sorted(rows, key=lambda r: r["h"])
    steps_h = [
        abs(a["x"] - b["x"]) + abs(a["y"] - b["y"])
        for a, b in zip(by_h, by_h[1:])
    ]
    assert all(s == 1 for s in steps_h)
    by_z = sorted(rows, key=lambda r: r["z"])
    steps_z = [
        abs(a["x"] - b["x"]) + abs(a["y"] - b["y"])
        for a, b in zip(by_z, by_z[1:])
    ]
    assert max(steps_z) > 1  # Morton seam jumps exist on the same grid
