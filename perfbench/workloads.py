"""The three seeded agent sessions and their correctness checks.

A workload is a sequence of MCP ``tools/call`` requests: warm-up calls
(the first is the cold call), then passes of calls whose parameters and
order come from ``random.Random(seed)``, then untimed calls that read
back state for the checks. The server receives only these requests.

Every answer is checked after the timed phase, so the checks never
compete with the server for the CPU:

- ``lake_sql``: each SQL answer against DuckDB running the same SQL
  over the same parquet files; catalog answers against the files'
  schemas.
- ``operator_mix``: each ``run_operator`` answer against the
  operator's own DuckDB oracle SQL from the registry, order-insensitively.
  Where the server's 1000-row cap truncates, the answer must have
  1000 rows and every one must be an oracle row.
- ``iceberg_rw``: every statement is replayed on a DuckDB table in
  call order; each SELECT answer and the final table state must match.
"""

from __future__ import annotations

import json
import math
import os
from collections import Counter
from dataclasses import dataclass, field
from datetime import date

from fixture import TABLES, row_counts

ROW_CAP = 1000  # server.MAX_RESULT_ROWS: the engine caps every answer


@dataclass
class Call:
    tool: str
    args: dict
    kind: str  # catalog | read | write, or the operator's name
    check: dict = field(default_factory=dict)


def parse_answer(result: dict) -> list:
    """Rows of a tool result: the text is a timing line, then JSON."""
    text = result["content"][0]["text"]
    _, _, body = text.partition("\n")
    return json.loads(body)


# ------------------------------------------------------------ comparison


def _jsonish(rows, cols):
    """DuckDB rows as the server would render them (``json.dumps``
    with ``default=str``), so dates and nested values compare alike."""
    return json.loads(json.dumps([dict(zip(cols, r)) for r in rows], default=str))


def _key(v):
    if isinstance(v, float):
        return ("n", float(f"{v:.6g}"))
    if isinstance(v, int) and not isinstance(v, bool):
        return ("n", float(v))
    if isinstance(v, list):
        return ("l", tuple(_key(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _key(x)) for k, x in v.items())))
    return (type(v).__name__, v)


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, bool) or isinstance(b, bool):
            return a == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    return a == b


def _row_key(row: dict):
    return tuple(_key(row[c]) for c in sorted(row))


def compare_rows(got: list, want: list, ordered: bool = False) -> str | None:
    """None when ``got`` equals ``want`` (both lists of dicts), else
    the reason. Floats compare with a relative tolerance of 1e-9, so
    summation order between engines cannot fail a check."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if got and list(got[0]) != list(want[0]):
        return f"columns {list(got[0])}, expected {list(want[0])}"
    if not ordered:
        got, want = sorted(got, key=_row_key), sorted(want, key=_row_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if not _close(g, w):
            return f"row {i}: {g} != {w}"
    return None


def contained(got: list, want: list) -> str | None:
    """None when every row of ``got`` is a distinct row of ``want``
    (a capped answer must be a sub-multiset of the full one)."""
    pool = Counter(_row_key(r) for r in want)
    for r in got:
        k = _row_key(r)
        if pool[k] <= 0:
            return f"row {r} is not in the expected answer"
        pool[k] -= 1
    return None


def check_capped(got: list, want: list, ordered: bool) -> str | None:
    if len(want) > ROW_CAP:
        if len(got) != ROW_CAP:
            return f"{len(got)} rows, expected the {ROW_CAP}-row cap"
        return contained(got, want)
    return compare_rows(got, want, ordered)


def duck_rows(con, sql: str) -> list:
    rel = con.sql(sql)
    return _jsonish(rel.fetchall(), rel.columns)


def lake_views(con, sf_dir: str) -> None:
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


def describe_error(con, table: str, got: list) -> str | None:
    """A DESCRIBE answer must start with ``table``'s columns, in order."""
    want = [r[0] for r in con.sql(f"DESCRIBE {table}").fetchall()]
    cols = [r.get("col_name") for r in got][: len(want)]
    return None if cols == want else f"columns {cols}, expected {want}"


class Workload:
    name: str
    sf: float  # fixture scale factor
    # passes timed even when --seconds has run out: a workload with
    # short passes would otherwise time two or three of them depending
    # on host speed, and its metrics would flip with the count
    min_passes = 1

    def env(self, sf_dir: str, run_dir: str) -> dict:
        return {"SPARK_GRAFT_SF_DIR": sf_dir}

    def final_calls(self) -> list[Call]:
        return []


# ------------------------------------------------------------- lake_sql


class LakeSql(Workload):
    """Catalog and SQL calls over the parquet views: the reference
    server's own two-tool surface. Registry and Iceberg are bypassed."""

    name = "lake_sql"
    sf = 0.1
    min_passes = 3

    def _q1(self, rng) -> Call:
        d = date(1997, 1, 1).toordinal() + rng.randrange(0, 5 * 365)
        return self._sql(
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_base_price, "
            "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
            "avg(l_discount) AS avg_disc, count(*) AS count_order "
            f"FROM lineitem WHERE l_shipdate <= DATE '{date.fromordinal(d)}' "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus",
            ordered=True,
        )

    def _q6(self, rng) -> Call:
        year = rng.randrange(1995, 2001)
        disc = rng.randrange(2, 9) / 100
        qty = rng.randrange(20, 30)
        return self._sql(
            "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
            f"WHERE l_shipdate >= DATE '{year}-01-01' "
            f"AND l_shipdate < DATE '{year + 1}-01-01' "
            f"AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f} "
            f"AND l_quantity < {qty}"
        )

    def _sql(self, sql: str, ordered: bool = False) -> Call:
        return Call("query_table", {"query": sql}, "read", {"sql": sql, "ordered": ordered})

    def warmup(self, rng) -> list[Call]:
        """A Q1 aggregate first, then one pass: the first call of every
        query shape compiles code that later calls reuse."""
        return [self._q1(rng), *self.next_pass(rng)]

    def next_pass(self, rng) -> list[Call]:
        orders = row_counts(self.sf)["orders"]
        year = rng.randrange(1995, 2001)
        lo = rng.randrange(0, orders - 400)
        calls = [
            Call("query_catalog", {"query": "LIST TABLES"}, "catalog", {"list": True}),
            Call("query_catalog", {"query": f"DESCRIBE TABLE {rng.choice(TABLES)}"},
                 "catalog", {"describe": True}),
            self._q1(rng),
            self._q6(rng),
            self._sql(f"SELECT * FROM orders WHERE o_orderkey = {rng.randrange(orders)}"),
            self._sql(
                "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate "
                f"FROM lineitem WHERE l_orderkey = {rng.randrange(orders)}"
            ),
            self._sql(
                "SELECT n_name, count(*) AS n_orders, sum(o_totalprice) AS revenue "
                "FROM orders JOIN customer ON o_custkey = c_custkey "
                "JOIN nation ON c_nationkey = n_nationkey "
                f"WHERE o_orderdate >= DATE '{year}-01-01' "
                f"AND o_orderdate < DATE '{year + 1}-01-01' "
                f"GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT {rng.randrange(3, 11)}",
                ordered=True,
            ),
            # ~1200 matching rows, capped to 1000 (≈270 KB of JSON)
            self._sql(f"SELECT * FROM lineitem WHERE l_orderkey >= {lo} "
                      f"AND l_orderkey < {lo + 300}"),
        ]
        rng.shuffle(calls)
        return calls

    def check(self, con, sf_dir: str, records) -> list[str]:
        lake_views(con, sf_dir)
        out = []
        for i, (call, result) in enumerate(records):
            got = parse_answer(result)
            if call.check.get("list"):
                names = {r.get("tableName") for r in got}
                err = None if names >= set(TABLES) else f"tables {sorted(names)}"
            elif call.check.get("describe"):
                err = describe_error(con, call.args["query"].split()[-1], got)
            else:
                want = duck_rows(con, call.check["sql"])
                err = check_capped(got, want, call.check["ordered"])
            if err:
                out.append(f"call {i} {call.args}: {err}")
        return out


# --------------------------------------------------------- operator_mix


class OperatorMix(Workload):
    """Repeated seeded-order passes of heavy registry operators plus
    the ROADMAP's untouched controls, in one long-lived server. A pass
    is one agent session: ``list_operators``, then every operator once."""

    name = "operator_mix"
    sf = 0.01
    min_passes = 3
    HEAVY = (
        "x_graph_label_prop", "x_text_tfidf_topk", "x_ann_cosine_topk",
    )
    CONTROLS = ("j_asof", "x_dedup_exact", "o_order_limit")

    def _calls(self, names) -> list[Call]:
        return [Call("run_operator", {"name": op}, op) for op in names]

    def warmup(self, rng) -> list[Call]:
        """The cold call, then each operator's first call in the server
        in a fixed order: its cost depends on what ran before it."""
        return self._calls(("o_order_limit",) + self.HEAVY + self.CONTROLS[:2])

    def next_pass(self, rng) -> list[Call]:
        calls = self._calls(self.HEAVY + self.CONTROLS)
        rng.shuffle(calls)
        return [Call("list_operators", {}, "catalog"), *calls]

    def check(self, con, sf_dir: str, records) -> list[str]:
        from mcp_iceberg_duckdb_spark import registry

        registry.load_all()
        lake_views(con, sf_dir)
        oracle = {}
        for op in self.HEAVY + self.CONTROLS:
            sql = registry.QUERIES[op].oracle
            oracle[op] = duck_rows(con, sql() if callable(sql) else sql)
        out = []
        for i, (call, result) in enumerate(records):
            got = parse_answer(result)
            if call.tool == "list_operators":
                names = {r.get("name") for r in got}
                missing = set(self.HEAVY + self.CONTROLS) - names
                err = f"operators missing: {sorted(missing)}" if missing else None
            else:
                err = check_capped(got, oracle[call.args["name"]], ordered=False)
            if err:
                out.append(f"call {i} {call.args}: {err}")
        return out


# ----------------------------------------------------------- iceberg_rw


_LI_COLS = "l_orderkey, l_linenumber, n_lines, qty, price, disc, ship"


def _rollup(where: str) -> str:
    """Per-(order, line number) rollup of lineitem rows: unique keys,
    so MERGE has one source row per target row."""
    return (
        f"SELECT l_orderkey, l_linenumber, count(*) AS n_lines, "
        "sum(l_quantity) AS qty, sum(l_extendedprice) AS price, "
        "max(l_discount) AS disc, max(l_shipdate) AS ship "
        f"FROM lineitem WHERE {where} GROUP BY l_orderkey, l_linenumber"
    )


class IcebergRw(Workload):
    """Writes beside reads on one partitioned Iceberg table in a fresh
    filesystem warehouse. A pass is four writes, each followed by an
    aggregate and a point SELECT that read its result: an INSERT …
    SELECT batch, then a DELETE, an UPDATE and a MERGE in seeded order.
    A DESCRIBE ends the pass."""

    name = "iceberg_rw"
    sf = 0.1
    TABLE = "lake.li"

    def env(self, sf_dir: str, run_dir: str) -> dict:
        wh = os.path.join(run_dir, "warehouse")
        os.makedirs(wh, exist_ok=True)
        return {"SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_FS_WAREHOUSE": wh}

    def _init(self, rng) -> None:
        orders = row_counts(self.sf)["orders"]
        self.batch = orders // 75  # orders per INSERT batch (~8000 rows at sf0.1)
        self.slice = max(2, self.batch * 3 // 100)  # orders per DML / MERGE half
        # INSERT batches come from the first 80% of order keys, in
        # seeded order; MERGE inserts take fresh keys from the rest
        self._blocks = list(range(int(orders * 0.8) // self.batch))
        rng.shuffle(self._blocks)
        self._merge_lo = int(orders * 0.8)
        self._inserted: list[int] = []

    def _next_block(self) -> str:
        lo = self._blocks.pop() * self.batch
        self._inserted.append(lo)
        return f"l_orderkey >= {lo} AND l_orderkey < {lo + self.batch}"

    def _insert(self) -> Call:
        where = self._next_block()
        sql = f"INSERT INTO {self.TABLE} {_rollup(where)}"
        return Call("query_table", {"query": sql}, "write",
                    {"replay": [f"INSERT INTO li {_rollup(where)}"]})

    def _select(self, sql: str, ordered=False) -> Call:
        return Call("query_table", {"query": sql.replace("{t}", self.TABLE)}, "read",
                    {"sql": sql.replace("{t}", "li"), "ordered": ordered})

    def _dml_call(self, rng, kind: str) -> Call:
        lo = rng.choice(self._inserted) + rng.randrange(0, self.batch - self.slice)
        keys = f"l_orderkey >= {lo} AND l_orderkey < {lo + self.slice}"
        if kind == "delete":
            sql = f"DELETE FROM {{t}} WHERE {keys}"
            replay = [sql.replace("{t}", "li")]
        elif kind == "update":
            sql = f"UPDATE {{t}} SET qty = qty + 1, disc = disc + 0.01 WHERE {keys}"
            replay = [sql.replace("{t}", "li")]
        else:
            fresh = self._merge_lo
            self._merge_lo += self.slice
            src = _rollup(f"({keys}) OR (l_orderkey >= {fresh} "
                          f"AND l_orderkey < {fresh + self.slice})")
            sql = (f"MERGE INTO {{t}} t USING ({src}) s "
                   "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber "
                   "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
            sets = ", ".join(f"{c} = s.{c}" for c in ("n_lines", "qty", "price", "disc", "ship"))
            on = "li.l_orderkey = s.l_orderkey AND li.l_linenumber = s.l_linenumber"
            replay = [
                f"UPDATE li SET {sets} FROM ({src}) s WHERE {on}",
                f"INSERT INTO li SELECT s.* FROM ({src}) s WHERE NOT EXISTS "
                f"(SELECT 1 FROM li WHERE {on})",
            ]
        return Call("query_table", {"query": sql.replace("{t}", self.TABLE)}, "write",
                    {"replay": replay})

    def warmup(self, rng) -> list[Call]:
        """The CTAS that creates the table."""
        return [self._create(rng)]

    def _reads(self, rng) -> list[Call]:
        y = rng.randrange(1995, 2002)
        k = rng.choice(self._inserted) + rng.randrange(self.batch)
        return [
            self._select(
                "SELECT year(ship) AS y, count(*) AS n, sum(n_lines) AS lines, "
                f"sum(qty) AS qty, sum(price) AS price FROM {{t}} "
                f"WHERE ship >= TIMESTAMP '{y}-01-01 00:00:00' GROUP BY year(ship) ORDER BY y",
                ordered=True,
            ),
            self._select(f"SELECT {_LI_COLS} FROM {{t}} WHERE l_orderkey = {k}"),
        ]

    def _create(self, rng) -> Call:
        self._init(rng)
        where = self._next_block()
        sql = (f"CREATE TABLE {self.TABLE} PARTITIONED BY (year(ship)) "
               f"AS {_rollup(where)}")
        return Call("query_table", {"query": sql}, "write",
                    {"replay": [f"CREATE TABLE li AS {_rollup(where)}"]})

    def next_pass(self, rng) -> list[Call]:
        dml = ["delete", "update", "merge"]
        rng.shuffle(dml)
        calls = [self._insert(), *self._reads(rng)]
        for kind in dml:
            calls += [self._dml_call(rng, kind), *self._reads(rng)]
        return [*calls, Call("query_catalog", {"query": f"DESCRIBE TABLE {self.TABLE}"},
                             "catalog", {"describe": True})]

    def final_calls(self) -> list[Call]:
        return [self._select(
            "SELECT count(*) AS n, sum(l_orderkey) AS keys, sum(n_lines) AS lines, "
            "sum(qty) AS qty, sum(price) AS price, sum(disc) AS disc, "
            "count(DISTINCT ship) AS ships FROM {t}"
        )]

    def check(self, con, sf_dir: str, records) -> list[str]:
        lake_views(con, sf_dir)
        out = []
        for i, (call, result) in enumerate(records):
            got = parse_answer(result)
            if "replay" in call.check:
                for sql in call.check["replay"]:
                    con.sql(sql)
                err = None if got and "operation" in got[0] else f"write answer {got}"
            elif call.check.get("describe"):
                err = describe_error(con, "li", got)
            else:
                err = check_capped(got, duck_rows(con, call.check["sql"]),
                                   call.check["ordered"])
            if err:
                out.append(f"call {i} {call.args['query'][:80]}: {err}")
        return out


WORKLOADS = {w.name: w for w in (LakeSql, OperatorMix, IcebergRw)}
