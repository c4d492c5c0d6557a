"""The benchmark's workloads: what one op is, its inputs and its checks.

``query_mix`` ops are registered queries, ``queries()[name](spark, sf)``
followed by ``collect``. ``notebook`` ops are cells run through one
``Interpreter(html=True)``. The seed picks the op order of every round and,
for the notebook, the SQL literals; the program sees only the generated
cell texts and query names.

Correctness: each query's set-up result is checked against its DuckDB
oracle and each ``%sql`` cell's rows against the same SQL in DuckDB, with
the comparison rules of ``tools/selfcheck.py`` (column names, row count,
sorted rows with exact float ``repr``). A timed op must then reproduce the
verified set-up result exactly: the order-insensitive row digest of a
query, or the rendered text and HTML of a cell.
"""

from __future__ import annotations

import hashlib
import math
import random
import re
from dataclasses import dataclass

#: single-pass registered queries: scan + aggregate, 3-way join + top-k,
#: window, range join, digest dedup, text scoring, vector top-k
QUERY_MIX = (
    "q01_pricing_summary", "q03_topk_join", "q09_window_topn", "q29_range_join",
    "d01_exact_dedup", "t01_quality_score", "s01_cosine_topk",
)

#: scale factor each workload runs at
SCALE = {"notebook": "0.01", "query_mix": "0.1"}

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@dataclass(frozen=True)
class Op:
    """One unit of work. ``key`` names it (a query name or a cell text);
    ``oracle`` is DuckDB SQL whose rows the set-up result must match;
    ``view`` is the view a cell registers, mirrored in DuckDB."""

    key: str
    expect_error: bool = False
    oracle: str | None = None
    view: str | None = None


# -- result canonicalisation (tools/selfcheck.py's rules) ------------------
# Restated here rather than imported: importing tools/selfcheck.py puts a
# fixed repository path at the front of sys.path.

def _canon(v):
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(0.0 if v == 0 else v))
    if isinstance(v, int):
        return ("i", v)
    if v is None:
        return ("n",)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def canonical_rows(rows: list[tuple], columns: list[str]) -> list[tuple]:
    """Columns sorted by name, then rows sorted; values canonicalised."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def rows_digest(rows: list[tuple], columns: list[str]) -> str:
    """Order-insensitive digest of a result."""
    body = repr((sorted(columns), canonical_rows(rows, columns)))
    return hashlib.sha256(body.encode()).hexdigest()


def compare(spark_rows, spark_cols, duck_rows, duck_cols) -> str | None:
    """None when the results agree, else what differs."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"rowcount {len(spark_rows)} != {len(duck_rows)}"
    a = canonical_rows(spark_rows, spark_cols)
    b = canonical_rows(duck_rows, duck_cols)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"sorted row {i}: spark={x} duckdb={y}"
    return None


_PLAN_IDS = re.compile(r"(#|plan_id=|id=)\d+")


def cell_digest(op: Op, text: str | None, html: str | None) -> str:
    """Digest of a cell's rendered output. Physical-plan text carries
    expression and plan ids that change on every analysis; they are
    masked, the plan's shape is kept."""
    body = f"{text}\x00{html}"
    if op.key.startswith("%plan"):
        body = _PLAN_IDS.sub(r"\1", body)
    return hashlib.sha256(body.encode()).hexdigest()


def duckdb_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def duckdb_rows(con, sql: str) -> tuple[list[tuple], list[str]]:
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return rel.fetchall(), cols


# -- query_mix -------------------------------------------------------------

def query_ops() -> list[Op]:
    from arc_jupyter_spark.workloads import oracle_sql

    oracles = oracle_sql()
    return [Op(name, oracle=oracles.get(name)) for name in QUERY_MIX]


# -- notebook --------------------------------------------------------------

CENTS = "CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)"

#: a 3-stage HOCON pipeline cell: SQLTransform -> SQLTransform -> SQLValidate
PIPELINE_CELL = '''{
  type = SQLTransform
  name = big orders
  sql = """SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > ${MINPRICE}"""
  outputView = nb_big_orders
}
{
  type = SQLTransform
  name = orders per customer
  sql = """SELECT o_custkey, COUNT(*) AS n FROM nb_big_orders
    GROUP BY o_custkey ORDER BY n DESC, o_custkey"""
  outputView = nb_per_customer
}
{
  type = SQLValidate
  name = not empty
  sql = """SELECT COUNT(*) > 0 AS valid, CAST(COUNT(*) AS STRING) AS message
    FROM nb_per_customer"""
}'''


def _literals(rng: random.Random) -> dict[str, str]:
    return {
        "QTY": str(rng.randint(5, 45)),
        "DISC": rng.choice(["0.02", "0.04", "0.06", "0.08"]),
        "MOD": str(rng.randint(2, 9)),
        "SIZE": str(rng.randint(5, 45)),
        "MINCHARS": str(rng.randint(50, 400)),
        "SINCE": f"{rng.randint(1996, 2000)}-{rng.randint(1, 12):02d}-01",
        "MINPRICE": str(rng.randint(100, 450) * 1000),
        "PRIORITY": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
        "PTYPE": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
        "ACCT": str(rng.randint(0, 9000)),
    }


def _fill(sql: str, lit: dict[str, str]) -> str:
    return re.sub(r"\$\{(\w+)\}", lambda m: lit[m.group(1)], sql)


def _sql_cell(sql: str, lit: dict[str, str], params: tuple[str, ...] = (),
              view: str | None = None) -> Op:
    """A ``%sql`` cell; *params* are passed through ``sqlParams``, the
    other ``${...}`` names come from the session's ``%env``."""
    args = []
    if params:
        args.append("sqlParams=" + ",".join(f"{p.lower()}={lit[p]}" for p in params))
    if view:
        args.append(f"outputView={view} persist=true")
    cell_sql = sql
    for p in params:
        cell_sql = cell_sql.replace("${" + p + "}", "${" + p.lower() + "}")
    head = "%sql " + " ".join(args) if args else "%sql"
    return Op(f"{head}\n{cell_sql}", oracle=_fill(sql, lit), view=view)


def notebook_deck(seed: int) -> tuple[Op, list[list[Op]]]:
    """The ``%env`` cell that sets the session literals, and the deck of
    cell groups one round runs. A group's cells stay in order (the
    persisted view is written before the cells that read it); the groups
    are shuffled per round. 20 cells, one of them an expected error."""
    lit = _literals(random.Random(seed))
    env_keys = ("SINCE", "MINPRICE", "PRIORITY", "PTYPE", "ACCT")
    env = Op("%env\n" + "\n".join(f"{k}={lit[k]}" for k in env_keys))
    cents = CENTS.format
    single = [
        env,
        _sql_cell(
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n,\n"
            "  SUM(CAST(l_quantity AS BIGINT)) AS qty,\n"
            f"  SUM({cents(col='l_extendedprice')}) AS price_cents\n"
            "FROM lineitem WHERE l_quantity < ${QTY}\n"
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
            lit, ("QTY",)),
        _sql_cell(
            "SELECT YEAR(l_shipdate) AS ship_year, COUNT(*) AS n, MAX(l_extendedprice) AS top\n"
            "FROM lineitem WHERE l_discount >= ${DISC}\n"
            "GROUP BY YEAR(l_shipdate) ORDER BY ship_year",
            lit, ("DISC",)),
        _sql_cell(
            "SELECT event_type, COUNT(*) AS n, MAX(value) AS vmax, MIN(event_id) AS first_id\n"
            "FROM events WHERE user_id % ${MOD} = 0\n"
            "GROUP BY event_type ORDER BY event_type",
            lit, ("MOD",)),
        _sql_cell(
            "SELECT p_type, COUNT(*) AS n, MIN(p_retailprice) AS lo, MAX(p_size) AS sz\n"
            "FROM part WHERE p_size <= ${SIZE} GROUP BY p_type ORDER BY p_type",
            lit, ("SIZE",)),
        _sql_cell(
            "SELECT lang, COUNT(*) AS n, MAX(n_chars) AS longest\n"
            "FROM documents WHERE n_chars > ${MINCHARS} GROUP BY lang ORDER BY lang",
            lit, ("MINCHARS",)),
        _sql_cell(
            f"SELECT c_mktsegment, COUNT(*) AS orders, SUM({cents(col='o_totalprice')}) AS total_cents\n"
            "FROM orders JOIN customer ON o_custkey = c_custkey\n"
            "WHERE o_orderdate >= TIMESTAMP '${SINCE} 00:00:00'\n"
            "GROUP BY c_mktsegment ORDER BY c_mktsegment",
            lit),
        _sql_cell(
            "SELECT n_name, COUNT(*) AS n\n"
            "FROM orders JOIN customer ON o_custkey = c_custkey\n"
            "JOIN nation ON c_nationkey = n_nationkey\n"
            "WHERE o_orderpriority = '${PRIORITY}' GROUP BY n_name ORDER BY n_name",
            lit),
        _sql_cell(
            "SELECT p_brand, COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS qty\n"
            "FROM lineitem JOIN part ON l_partkey = p_partkey\n"
            "WHERE p_type = '${PTYPE}' GROUP BY p_brand ORDER BY p_brand",
            lit),
        _sql_cell(
            "SELECT c_nationkey, c_custkey, c_acctbal,\n"
            "  RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS r\n"
            "FROM customer WHERE c_acctbal > ${ACCT}\n"
            "ORDER BY c_nationkey, r",
            lit),
        Op("%metadata\nlineitem"),
        Op("%printschema\norders"),
        Op("%sql\nSELECT l_no_such_column FROM lineitem", expect_error=True),
        Op(PIPELINE_CELL, oracle=_fill(
            "SELECT o_custkey, COUNT(*) AS n FROM orders WHERE o_totalprice > ${MINPRICE}\n"
            "GROUP BY o_custkey", lit)),
    ]
    persisted = [
        _sql_cell(
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders\n"
            "WHERE o_orderdate >= TIMESTAMP '${SINCE} 00:00:00' AND o_totalprice > ${MINPRICE}\n"
            "ORDER BY o_orderkey",
            lit, view="nb_recent"),
        _sql_cell(
            "SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS top\n"
            "FROM nb_recent GROUP BY o_orderpriority ORDER BY o_orderpriority",
            lit),
        _sql_cell(
            "SELECT c_nationkey, COUNT(*) AS n\n"
            "FROM nb_recent JOIN customer ON o_custkey = c_custkey\n"
            "GROUP BY c_nationkey ORDER BY c_nationkey",
            lit),
        Op("%printschema\nnb_recent"),
        Op("%metadata\nnb_recent"),
        Op("%plan\nnb_recent"),
    ]
    return env, [[op] for op in single] + [persisted]


def round_order(groups: list[list[Op]], rng: random.Random) -> list[Op]:
    order = list(groups)
    rng.shuffle(order)
    return [op for group in order for op in group]
