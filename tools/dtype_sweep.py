"""Sweep every oracle-paired query for driver-fetch dtype divergence.

The driver fetches oracle results via pandas/Arrow (`duckdb .df()`),
where DuckDB's HUGEINT (the type of SUM(<integer>)) converts to
float64 while Spark's side stays int64 — so the driver's value hash
diverges on representation (`4160` vs `4160.0`) even when values are
bit-identical.  Round 3 lost 26/50 sampled queries to exactly this.

This tool compares, per query, the Spark result *schema* (extracted
without executing the *returned* plan — though individual query
builders may run Spark jobs during construction: anchor/centroid
collects in s11/s13/s14/s15/p08, the vocab count in t37, and the
streaming queries st11/st12 run to completion, so a full sweep is
heavier than a schema pass) against the pandas dtypes of the oracle
fetched with ``.df()`` at a small scale factor, and flags any column
whose numeric family differs (int vs float in either direction).

With ``--emit-map FILE`` it also writes a JSON map
``{query: {"columns": [...], "cast_bigint": [...]}}`` (full oracle
column list + the int-family columns needing an oracle-side
``CAST(.. AS BIGINT)``) used to generate
``arc_jupyter_spark/workloads/oracle_casts.py``.

Usage: python tools/dtype_sweep.py [--emit-map FILE] [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import types as T  # noqa: E402


def spark_family(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    return "other"


def pandas_family(dtype, series: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if dtype == object:
        # DuckDB renders HUGEINT/DECIMAL through object in some paths;
        # inspect the first non-null value
        nn = series.dropna()
        if len(nn):
            v = nn.iloc[0]
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, int):
                return "int"
            if isinstance(v, float):
                return "float"
    return "other"


def main() -> int:
    import duckdb

    from pyspark.sql import SparkSession

    from arc_jupyter_spark.workloads import oracle_sql, queries

    raw = sys.argv[1:]
    emit_map = None
    if "--emit-map" in raw:
        i = raw.index("--emit-map")
        emit_map = raw[i + 1]
        raw = raw[:i] + raw[i + 2 :]
    args = [a for a in raw if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    if emit_map is not None:
        # regenerate the cast map from the RAW oracles (bypassing
        # apply_oracle_casts) — sweeping the already-wrapped SQL would
        # see clean dtypes and emit an empty map, silently dropping
        # every existing cast on the next generation
        from arc_jupyter_spark.workloads import base as _base

        def oracle_sql():  # noqa: F811 — shadow the wrapped registry
            return dict(_base.ORACLES)

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = queries(), oracle_sql()
    flagged: list[str] = []
    cast_map: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            schema = fn(spark, sf_dir).schema
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: spark plan error: {exc}")
            flagged.append(name)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: duckdb error: {exc}")
            flagged.append(name)
            continue
        sfam = {f.name: spark_family(f.dataType) for f in schema.fields}
        problems = []
        need_cast = []
        for col in odf.columns:
            if col not in sfam:
                continue  # column-name mismatch is selfcheck's job
            pfam = pandas_family(odf[col].dtype, odf[col])
            sf_ = sfam[col]
            if {sf_, pfam} <= {"int", "float", "decimal"} and sf_ != pfam:
                problems.append(f"{col}: spark={sf_} oracle_df={pfam}")
                if sf_ == "int" and pfam == "float":
                    need_cast.append(col)
        if problems:
            flagged.append(name)
            print(f"FLAG {name}: " + "; ".join(problems))
            if need_cast:
                cast_map[name] = {
                    "columns": list(odf.columns),
                    "cast_bigint": need_cast,
                }
    print(f"\n{len(flagged)} flagged: {' '.join(sorted(flagged))}")
    if emit_map is not None:
        with open(emit_map, "w") as fh:
            json.dump(cast_map, fh, indent=1, sort_keys=True)
        print(f"cast map ({len(cast_map)} queries) -> {emit_map}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
