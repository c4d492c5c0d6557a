"""One module owns every digest form (``arc_jupyter_spark/digest.py``):
no raw md5/xxhash64 call or DuckDB prefix fragment elsewhere in the
package, and each Spark form equals its DuckDB twin."""

import random
import re
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from arc_jupyter_spark import digest

PACKAGE = Path(digest.__file__).parent
RAW_DIGEST = re.compile(r"\bF\.(?:md5|xxhash64)\(|substr\(\s*md5\(")


def test_digests_are_defined_only_in_digest_module():
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != Path(digest.__file__)
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if RAW_DIGEST.search(line)
    ]
    assert not hits, (
        "raw digest outside arc_jupyter_spark/digest.py (call md5_hex, "
        "md5_prefix_hash, internal_digest or duck_md5_prefix_hash):\n"
        + "\n".join(hits)
    )


def _strings() -> list:
    """About 500 keys: NULL, empty and blank strings, non-ASCII text,
    quotes and control characters, long values and ``band0|…`` keys."""
    rnd = random.Random(13)
    alphabet = "abcxyz019 |'\"\\\t\néßøΩжд日本語中文🙂🚀"
    out = [None, "", " ", "  ", "0", "-1", "band0|", "naïve café", "Ünïcödé",
           "日本語のテキスト", "emoji 🙂🚀", "quote ' and \" and \\", "a" * 5000]
    out += ["".join(rnd.choice(alphabet) for _ in range(rnd.randint(1, 60)))
            for _ in range(300)]
    out += [str(rnd.randrange(10 ** 12)) for _ in range(90)]
    out += [f"band{b}|" + "|".join(str(rnd.randrange(2 ** 31 - 1)) for _ in range(4))
            for b in range(100)]
    return out


def test_spark_digests_equal_their_duckdb_twins(spark):
    values = _strings()
    rows = list(enumerate(values))
    got = spark.createDataFrame(rows, "i int, s string").select(
        "i",
        digest.md5_hex("s"),
        digest.md5_prefix_hash(F.col("s")),
        digest.md5_prefix_hash(F.col("s"), 15),
    ).collect()
    t = pd.DataFrame({"i": range(len(values)), "s": pd.Series(values, dtype=object)})
    con = duckdb.connect()
    con.register("t", t)
    want = con.execute(
        f"SELECT i, md5(s), {digest.duck_md5_prefix_hash('s')}, "
        f"{digest.duck_md5_prefix_hash('s', 15)} FROM t ORDER BY i"
    ).fetchall()
    got = {r[0]: tuple(r) for r in got}
    assert len(want) == len(values) == len(got)
    bad = [(values[w[0]], got[w[0]], w) for w in want if got[w[0]] != w]
    assert not bad, f"{len(bad)} of {len(values)} differ, first: {bad[:3]}"


def test_band_digests_equal_their_duckdb_twin(spark):
    rnd = random.Random(7)
    sigs = [[0] * 16, [2 ** 31 - 2] * 16] + [
        [rnd.randrange(2 ** 31 - 1) for _ in range(16)] for _ in range(60)
    ]
    rows = [[i, *sig] for i, sig in enumerate(sigs)]
    sdf = spark.createDataFrame(
        rows, "i int, " + ", ".join(f"_s{j} long" for j in range(16))
    )
    con = duckdb.connect()
    con.register("sigs", pd.DataFrame(rows, columns=["i", *(f"s{j}" for j in range(16))]))
    for bands, rows_per_band in ((2, 8), (4, 4), (8, 2)):
        got = sdf.select("i", *digest.band_digests(bands, rows_per_band)).collect()
        want = con.execute(
            f"SELECT i, {digest.duck_band_digests(bands, rows_per_band)} "
            "FROM sigs ORDER BY i"
        ).fetchall()
        assert sorted(map(tuple, got)) == want, (bands, rows_per_band)
