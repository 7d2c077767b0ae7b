"""The local replica's driver-safety audit must catch — before the driver
ever sees them — both canonicalizer failure classes that slipped through
in round 2:

1. op_math_functions: per-column int-vs-float dtype asymmetry (DuckDB
   floor/ceil→DOUBLE vs Spark→LONG; DuckDB sign→TINYINT vs signum→DOUBLE)
   hash-mismatches because pandas renders ``90000`` vs ``90000.0``.
2. emb_l2_normalize / emb_quantize_int8: array-valued output columns
   crash pandas hashing (``TypeError: unhashable type: 'list'``).
"""

from __future__ import annotations

from pyspark.sql import types as T

from tools.oracle_check import dtype_pair_problems, duck_type_class, spark_type_class


def test_audit_catches_r2_math_functions_asymmetry():
    # the exact pre-fix op_math_functions column pairs
    spark_classes = {
        "price_floor": spark_type_class(T.LongType()),    # F.floor → LONG
        "price_ceil": spark_type_class(T.LongType()),     # F.ceil → LONG
        "disc_sign": spark_type_class(T.DoubleType()),    # F.signum → DOUBLE
        "qty_sqrt": spark_type_class(T.DoubleType()),     # symmetric control
    }
    duck_classes = {
        "price_floor": duck_type_class("DOUBLE"),   # DuckDB floor → DOUBLE
        "price_ceil": duck_type_class("DOUBLE"),
        "disc_sign": duck_type_class("TINYINT"),    # DuckDB sign → TINYINT
        "qty_sqrt": duck_type_class("DOUBLE"),
    }
    flagged = dtype_pair_problems(spark_classes, duck_classes)
    assert len(flagged) == 3
    assert {p.split(":")[0] for p in flagged} == {
        "price_floor", "price_ceil", "disc_sign"
    }


def test_audit_allows_int_width_and_symmetric_float_pairs():
    # int32 vs int64 renders identically in pandas (sim_label_centroids'
    # posexplode INT vs generate_subscripts BIGINT is driver-green)
    assert not dtype_pair_problems(
        {"dim_idx": spark_type_class(T.IntegerType())},
        {"dim_idx": duck_type_class("BIGINT")},
    )
    assert not dtype_pair_problems(
        {"x": spark_type_class(T.DoubleType())},
        {"x": duck_type_class("DOUBLE")},
    )


def test_audit_catches_r2_array_outputs():
    # pre-fix emb_l2_normalize: unit ARRAY<DOUBLE> / DuckDB DOUBLE[]
    assert spark_type_class(T.ArrayType(T.DoubleType())) == "nested"
    assert duck_type_class("DOUBLE[]") == "nested"
    assert spark_type_class(T.MapType(T.StringType(), T.LongType())) == "nested"
    assert duck_type_class("STRUCT(a INTEGER)") == "nested"
    # the fixed exploded forms are scalar → pass
    assert spark_type_class(T.DoubleType()) == "float"
    assert duck_type_class("VARCHAR") == "other"
