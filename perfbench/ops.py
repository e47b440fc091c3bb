"""Seeded op streams for the benchmark workloads.

`generate(workload, seed, spec)` is the only source of benchmark inputs:
it returns the op list the JVM harness runs, in run order. For
`etl_connectors` every op is a freshly drawn openetl `Connector` spec
(in the JSON shape `graft.model.ConnectorJson` parses) plus the DuckDB
SQL that must reproduce its output; the other workloads are the fixed
registry query lists of `spec.json` in a seeded order.

The generator only draws specs whose output is a pure function of the
input tables: every limit/offset sits behind a sort that is total over
the output row, floating sums go through the engine's exact-decimal
path, and averages are only windowed over integer-valued columns.
"""
import json
import random
import re

# column kinds: i = integer, d = double with 2 decimals, q = integer-valued
# double, s = string, t = timestamp (never projected: the events table
# carries a zoned timestamp that does not round-trip as the same value)
TABLES = {
    "lineitem": {
        "key": [],
        "cols": {"l_orderkey": "i", "l_partkey": "i", "l_suppkey": "i",
                 "l_linenumber": "i", "l_quantity": "q", "l_extendedprice": "d",
                 "l_discount": "d", "l_tax": "d", "l_returnflag": "s",
                 "l_linestatus": "s", "l_shipdate": "t"},
        "groups": ["l_returnflag", "l_linestatus", "l_linenumber"],
        "joins": [("l_orderkey", "orders", "o_orderkey"),
                  ("l_partkey", "part", "p_partkey"),
                  ("l_suppkey", "supplier", "s_suppkey")],
    },
    "orders": {
        "key": ["o_orderkey"],
        "cols": {"o_orderkey": "i", "o_custkey": "i", "o_orderstatus": "s",
                 "o_totalprice": "d", "o_orderdate": "t", "o_orderpriority": "s"},
        "groups": ["o_orderstatus", "o_orderpriority"],
        "joins": [("o_custkey", "customer", "c_custkey")],
    },
    "customer": {
        "key": ["c_custkey"],
        "cols": {"c_custkey": "i", "c_name": "s", "c_nationkey": "i",
                 "c_acctbal": "d", "c_mktsegment": "s"},
        "groups": ["c_mktsegment", "c_nationkey"],
        "joins": [("c_nationkey", "nation", "n_nationkey")],
    },
    "part": {
        "key": ["p_partkey"],
        "cols": {"p_partkey": "i", "p_name": "s", "p_brand": "s", "p_type": "s",
                 "p_size": "i", "p_retailprice": "d"},
        "groups": ["p_type", "p_brand"],
        "joins": [],
    },
    "supplier": {
        "key": ["s_suppkey"],
        "cols": {"s_suppkey": "i", "s_name": "s", "s_nationkey": "i", "s_acctbal": "d"},
        "groups": ["s_nationkey"],
        "joins": [("s_nationkey", "nation", "n_nationkey")],
    },
    "events": {
        "key": ["event_id"],
        "cols": {"event_id": "i", "ts": "t", "user_id": "i", "event_type": "s",
                 "value": "d", "props": "s"},
        "groups": ["event_type"],
        "joins": [("user_id", "customer", "c_custkey")],
    },
    "nation": {
        "key": ["n_nationkey"],
        "cols": {"n_nationkey": "i", "n_name": "s", "n_regionkey": "i"},
        "groups": ["n_regionkey"],
        "joins": [("n_regionkey", "region", "r_regionkey")],
    },
    "region": {"key": ["r_regionkey"], "cols": {"r_regionkey": "i", "r_name": "s"},
               "groups": [], "joins": []},
    # the in-process REST stub: id = 1..250, name = 'Item<id>', value = id * 0.5
    "rest": {"key": ["id"], "cols": {"id": "i", "name": "s", "value": "d"},
             "groups": [], "joins": []},
}
GROUP_COLS = {c for t in TABLES.values() for c in t["groups"]}
FACTS = ["lineitem", "orders", "customer", "part", "supplier", "events"]
REST_SQL = ("(SELECT i::BIGINT AS id, 'Item' || i::VARCHAR AS name, i::DOUBLE * 0.5 AS value "
            "FROM range(1, 251) t(i))")

# value domains for filter literals
STRINGS = {
    "l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"],
    "o_orderstatus": ["F", "O", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "c_mktsegment": ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"],
    "p_type": ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"],
    "p_brand": [f"Brand#{i}" for i in range(1, 26)],
    "p_name": ["red bolt", "new anvil", "hot ring", "cold gear", "blue widget"],
    "event_type": ["signup", "click", "error", "view", "purchase"],
    "n_name": [f"NATION_{i}" for i in range(25)], "r_name": ["ASIA", "EUROPE"],
    "c_name": ["Customer#00000", "Customer#000001"], "s_name": ["Supplier#0000001"],
    "props": ['{"k": 7}', '{"k": 42}'], "name": ["Item1", "Item25", "Item7"],
}
RANGES = {
    "l_orderkey": (0, 150000), "l_partkey": (0, 20000), "l_suppkey": (0, 1000),
    "l_linenumber": (1, 7), "l_quantity": (1, 50), "l_extendedprice": (900, 105000),
    "l_discount": (0, 0.1), "l_tax": (0, 0.08), "o_orderkey": (0, 150000),
    "o_custkey": (0, 15000), "o_totalprice": (1000, 500000), "c_custkey": (0, 15000),
    "c_nationkey": (0, 24), "c_acctbal": (-1000, 10000), "p_partkey": (0, 20000),
    "p_size": (1, 50), "p_retailprice": (900, 1000), "s_suppkey": (0, 1000),
    "s_nationkey": (0, 24), "s_acctbal": (-1000, 10000), "event_id": (0, 100000),
    "user_id": (0, 1500), "value": (0, 300), "n_nationkey": (0, 24),
    "n_regionkey": (0, 4), "r_regionkey": (0, 4), "id": (1, 250),
}
DATES = {"l_shipdate": (1995, 2001), "o_orderdate": (1995, 2001), "ts": None}
FILTER_OPS = ["=", "eq", "!=", "neq", ">", ">=", "<", "<=", "contains",
              "not_contains", "starts_with", "in", "not_in", "between",
              "not_between", "is_null", "is_not_null"]
TRANSFORMS = ["concat", "renameKey", "uppercase", "lowercase", "trim", "split",
              "replace", "addPrefix", "addSuffix", "toNumber", "extract",
              "mergeObjects"]
AGGS = ["count", "sum", "avg", "min", "max", "count_distinct"]
WINDOW_FNS = ["row_number", "rank", "dense_rank", "lag", "lead", "sum", "avg",
              "min", "max", "count"]
TO_NUMBER_RE = ("^[ \\t\\n\\r\\f\\x0B]*([-+]?(?:[0-9]+\\.?[0-9]*(?:[eE][-+]?[0-9]+)?"
                "|\\.[0-9]+(?:[eE][-+]?[0-9]+)?))")


def q(name):
    return '"' + name + '"'


def lit(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    return str(v)


def js_string(c):
    return f"coalesce(CAST({c} AS VARCHAR), '')"


class ConnectorGen:
    """Draws one connector spec and renders the DuckDB SQL for it."""

    def __init__(self, rng):
        self.rng = rng

    def literal(self, col, kind):
        r = self.rng
        if kind == "s":
            return r.choice(STRINGS.get(col, ["a"]))
        if kind == "t":
            lo, hi = DATES[col]
            return f"{r.randint(lo, hi)}-{r.randint(1, 12):02d}-01 00:00:00"
        lo, hi = RANGES.get(col, (0, 100))
        if kind == "d":
            return round(r.uniform(lo, hi), 2)
        return r.randint(int(lo), int(hi))

    def filter(self, cols):
        r = self.rng
        col = r.choice([c for c in cols if cols[c] != "t" or DATES.get(c)])
        kind = cols[col]
        if kind == "t":
            op = r.choice([">=", "<"])
        elif kind == "s":
            op = r.choice(["=", "eq", "!=", "neq", "contains", "not_contains",
                           "starts_with", "in", "not_in", "is_null", "is_not_null"])
        else:
            op = r.choice([o for o in FILTER_OPS if o not in ("contains", "not_contains", "starts_with")]
                          + (["contains", "starts_with"] if kind == "i" else []))
        if op in ("in", "not_in"):
            val = sorted({self.literal(col, kind) for _ in range(r.randint(1, 4))}, key=str)
        elif op in ("between", "not_between"):
            val = sorted([self.literal(col, kind), self.literal(col, kind)])
        elif op in ("is_null", "is_not_null"):
            val = None
        elif op in ("contains", "not_contains", "starts_with"):
            val = str(self.literal(col, kind))[: r.randint(1, 3)] if kind == "i" else \
                self.literal(col, kind)[: r.randint(2, 8)]
        else:
            val = self.literal(col, kind)
        f = {"field": col, "operator": op}
        if val is not None:
            f["value"] = val
        return f, self.filter_sql(col, kind, op, val)

    @staticmethod
    def filter_sql(col, kind, op, val):
        c = q(col)
        v = (lambda x: f"TIMESTAMP {lit(x)}") if kind == "t" else lit
        if op in ("=", "eq"):
            return f"{c} = {v(val)}"
        if op in ("!=", "neq"):
            return f"{c} <> {v(val)}"
        if op in (">", ">=", "<", "<="):
            return f"{c} {op} {v(val)}"
        if op == "contains":
            return f"contains(CAST({c} AS VARCHAR), {lit(str(val))})"
        if op == "not_contains":
            return f"NOT contains(CAST({c} AS VARCHAR), {lit(str(val))})"
        if op == "starts_with":
            return f"starts_with(CAST({c} AS VARCHAR), {lit(str(val))})"
        if op == "in":
            return f"{c} IN ({', '.join(lit(x) for x in val)})"
        if op == "not_in":
            return f"NOT ({c} IN ({', '.join(lit(x) for x in val)}))"
        if op == "between":
            return f"{c} BETWEEN {lit(val[0])} AND {lit(val[1])}"
        if op == "not_between":
            return f"NOT ({c} BETWEEN {lit(val[0])} AND {lit(val[1])})"
        if op == "is_null":
            return f"{c} IS NULL"
        return f"{c} IS NOT NULL"

    def transform(self, i, cols, exprs):
        """One T1-T12 step over string/integer columns; returns (spec, new
        column name, kind, SQL expression)."""
        r = self.rng
        src = [c for c in cols if cols[c] in ("s", "i")]
        typ = TRANSFORMS[i % len(TRANSFORMS)] if r.random() < 0.5 else r.choice(TRANSFORMS)
        field = r.choice(src)
        to = f"t{i}_{typ.lower()}"
        e = exprs[field]
        spec = {"type": typ, "field": field, "to": to}
        kind = "s"
        if typ == "concat":
            props = r.sample(src, min(len(src), r.randint(2, 3)))
            glue = r.choice([" ", "-", "|"])
            spec = {"type": typ, "properties": props, "glue": glue, "to": to}

            def falsy(x):
                s = f"CAST({exprs[x]} AS VARCHAR)"
                return (f"CASE WHEN {exprs[x]} IS NULL OR {s} IN ('', '0', '0.0', 'false', 'NaN') "
                        f"THEN NULL ELSE {s} END")
            sql = f"concat_ws({lit(glue)}, {', '.join(falsy(p) for p in props)})"
        elif typ == "renameKey":
            sql, kind = e, cols[field]
        elif typ == "uppercase":
            sql = f"upper({js_string(e)})"
        elif typ == "lowercase":
            sql = f"lower({js_string(e)})"
        elif typ == "trim":
            sql = f"trim({js_string(e)})"
        elif typ == "split":
            d = r.choice(["#", " ", "1", "0"])
            spec["delimiter"] = d
            sql, kind = f"string_split({js_string(e)}, {lit(d)})", "a"
        elif typ == "replace":
            search, rep = r.choice([("[0-9]", "x"), ("e", "E"), ("#0+", "#"), ("1", "")])
            spec.update(search=search, replace=rep)
            sql = f"regexp_replace({js_string(e)}, {lit(search)}, {lit(rep)}, 'g')"
        elif typ == "addPrefix":
            p = r.choice(["pre_", "x-", ""])
            spec["prefix"] = p
            sql = f"concat({lit(p)}, {js_string(e)})"
        elif typ == "addSuffix":
            s = r.choice(["_suf", ".v2", "!"])
            spec["suffix"] = s
            sql = f"concat({js_string(e)}, {lit(s)})"
        elif typ == "toNumber":
            x = f"regexp_extract({js_string(e)}, {lit(TO_NUMBER_RE)}, 1)"
            p = f"coalesce(CASE WHEN {x} = '' THEN 0.0 ELSE CAST({x} AS DOUBLE) END, 0.0)"
            sql, kind = f"CASE WHEN {p} = 0.0 THEN 0.0 ELSE {p} END", "d"
        elif typ == "extract":
            if r.random() < 0.5:
                pat = r.choice(["^(.+)#", "([0-9]+)", "[A-Z]+", "([a-z]+) "])
                spec["pattern"] = pat
                s = js_string(e)
                if re.compile(pat).groups == 0:
                    sql = f"regexp_extract({s}, {lit(pat)}, 0)"
                else:
                    g1 = f"regexp_extract({s}, {lit(pat)}, 1)"
                    sql = f"CASE WHEN {g1} <> '' THEN {g1} ELSE regexp_extract({s}, {lit(pat)}, 0) END"
            else:
                a = r.randint(0, 3)
                b = a + r.randint(1, 6)
                spec.update(start=a, end=b)
                sql = f"substring({js_string(e)}, {a + 1}, {b - a})"
        else:  # mergeObjects
            fs = r.sample(src, min(len(src), r.randint(1, 3)))
            spec = {"type": typ, "fields": fs, "to": to}
            sql, kind = "struct_pack(" + ", ".join(f"{q(f)} := {exprs[f]}" for f in fs) + ")", "m"
        return spec, to, kind, sql

    def connector(self, table, shape):
        """Draw one connector over `table` with the given extension `shape`
        (plain, join, group or window); returns (spec dict, DuckDB SQL)."""
        r = self.rng
        meta = TABLES[table]
        cols = dict(meta["cols"])
        exprs = {c: q(c) for c in cols}
        spec = {"table": table}
        where = []
        for _ in range(r.choice([0, 1, 1, 2, 3])):
            f, sql = self.filter(meta["cols"])
            where.append(sql)
            spec.setdefault("filters", []).append(f)
        # transforms (T1-T12), each a new column over the filtered source
        derived = {}
        for i in range(r.choice([0, 0, 1, 2, 3])):
            t, name, kind, sql = self.transform(i, cols, exprs)
            spec.setdefault("transformations", []).append(t)
            derived[name] = (kind, sql)
            # later transforms may read earlier outputs
            cols[name] = kind if kind in ("s", "i", "d") else "x"
            exprs[name] = f"({sql})"
        base = f"(SELECT *{''.join(f', {s} AS {q(n)}' for n, (_, s) in derived.items())} " \
               f"FROM {REST_SQL if table == 'rest' else table}" \
               f"{' WHERE ' + ' AND '.join(where) if where else ''})"
        kinds = dict(cols, **{n: k for n, (k, _) in derived.items()})
        rel = base
        keys = list(meta["key"])
        # joins (extension): 1-2 hops along foreign keys
        cur, hops = table, r.choice([1, 1, 2]) if shape == "join" else 0
        for _ in range(hops):
            options = [j for j in TABLES[cur]["joins"] if j[0] in kinds]
            if not options:
                break
            left_on, right, right_on = r.choice(options)
            jt = r.choice(["inner", "inner", "left", "left_semi", "left_anti"])
            j = {"table": right, "leftOn": left_on, "rightOn": right_on, "type": jt}
            if right in ("nation", "region", "supplier") and r.random() < 0.5:
                j["broadcast"] = True
            spec.setdefault("joins", []).append(j)
            sql_jt = {"inner": "JOIN", "left": "LEFT JOIN", "left_semi": "SEMI JOIN",
                      "left_anti": "ANTI JOIN"}[jt]
            if jt in ("left_semi", "left_anti"):
                rel = f"(SELECT l.* FROM {rel} l {sql_jt} {right} r ON l.{q(left_on)} = r.{q(right_on)})"
            else:
                rel = f"(SELECT * FROM {rel} l {sql_jt} {right} r ON l.{q(left_on)} = r.{q(right_on)})"
                for c, k in TABLES[right]["cols"].items():
                    kinds[c] = k
                cur = right
        out_kinds = dict(kinds)
        if shape == "group" and table != "rest" and any(c in GROUP_COLS for c in kinds):
            gcols = [c for c in kinds if c in GROUP_COLS]
            g = r.sample(gcols, min(len(gcols), r.randint(1, 2)))
            aggs, agg_sql = [], []
            nums = [c for c in kinds if kinds[c] in ("i", "d", "q")]
            for k in range(r.randint(1, 3)):
                fn = r.choice(AGGS)
                if fn == "count":
                    a = {"function": "count", "as": f"a{k}_count"}
                    s = "count(*)"
                else:
                    f = r.choice(nums)
                    a = {"function": fn, "field": f, "as": f"a{k}_{fn}"}
                    s = {"sum": f"CAST(SUM(CAST({q(f)} AS DECIMAL(30,6))) AS DOUBLE)",
                         "avg": f"CAST(SUM(CAST({q(f)} AS DECIMAL(30,6))) AS DOUBLE) / count({q(f)})",
                         "min": f"min({q(f)})", "max": f"max({q(f)})",
                         "count_distinct": f"count(DISTINCT {q(f)})"}[fn]
                aggs.append(a)
                agg_sql.append(f"{s} AS {q(a['as'])}")
            gb = {"fields": g, "aggs": aggs}
            having = ""
            if r.random() < 0.3:
                gb["having"] = [{"field": aggs[0]["as"], "operator": ">", "value": 0}]
                having = f" HAVING {agg_sql[0].rsplit(' AS ', 1)[0]} > 0"
            spec["groupBy"] = gb
            rel = (f"(SELECT {', '.join(q(c) for c in g)}, {', '.join(agg_sql)} FROM {rel} "
                   f"GROUP BY {', '.join(q(c) for c in g)}{having})")
            out_kinds = {c: kinds[c] for c in g}
            for a in aggs:
                out_kinds[a["as"]] = "i" if a["function"] in ("count", "count_distinct") else "d"
            keys = list(g)
        else:
            if shape == "window" and table != "rest":
                rel, wk = self.window(rel, kinds, spec, keys)
                out_kinds.update(wk)
            # projection: a random subset, never the zoned timestamp
            cand = [c for c in out_kinds if c != "ts"]
            if r.random() < 0.7:
                pick = r.sample(cand, min(len(cand), r.randint(2, 7)))
                # complex columns need their sources to order the output
                for t in spec.get("transformations", []):
                    if t["to"] in pick and derived.get(t["to"], ("s",))[0] in ("a", "m"):
                        pick += [c for c in (t.get("fields") or [t.get("field")]) if c and c not in pick]
                select = [c for c in cand if c in pick]
            else:
                select = cand if "ts" in out_kinds else None
            if select is not None:
                spec["fields"] = select
                out_kinds = {c: out_kinds[c] for c in select}
        outer = f"SELECT {', '.join(q(c) for c in out_kinds)} FROM {rel}"
        # sort + offset + limit; the order is completed to a total one over
        # every scalar output column so that the rows a limit keeps are fixed
        scalar = [c for c in out_kinds if out_kinds[c] in ("i", "d", "q", "s", "t")]
        lead = r.sample(scalar, min(len(scalar), r.randint(1, 2)))
        order = [(c, r.random() < 0.7) for c in lead] + [(c, True) for c in scalar if c not in lead]
        spec["sort"] = [{"field": c, "type": "asc" if a else "desc"} for c, a in order]
        limit = r.choice([50, 500, 2000, 5000, 20000])
        offset = r.choice([0, 0, 0, 10, 100])
        spec["limit"] = limit
        if offset:
            spec["offset"] = offset
        order_sql = ", ".join(f"{q(c)} {'ASC NULLS FIRST' if a else 'DESC NULLS LAST'}" for c, a in order)
        sql = f"{outer} ORDER BY {order_sql} LIMIT {limit} OFFSET {offset}"
        return spec, sql

    def window(self, rel, kinds, spec, keys):
        r = self.rng
        fn = r.choice(WINDOW_FNS)
        parts = [c for c in kinds if c in GROUP_COLS]
        part = r.sample(parts, 1) if parts and r.random() < 0.8 else []
        # order-sensitive functions need a total order: the table key
        needs_total = fn in ("row_number", "lag", "lead", "sum")
        if needs_total and not keys:
            fn = r.choice(["rank", "dense_rank", "min", "max", "count", "avg"])
            needs_total = False
        nums = [c for c in kinds if kinds[c] in ("i", "d", "q")]
        ints = [c for c in kinds if kinds[c] in ("i", "q")]
        field = None
        if fn in ("lag", "lead", "sum", "min", "max"):
            field = r.choice(nums)
        elif fn == "avg":
            field = r.choice(ints)
        order_cols = keys if needs_total else []
        if fn in ("rank", "dense_rank") or (not needs_total and r.random() < 0.5):
            lead_col = r.choice([c for c in kinds if kinds[c] in ("i", "d", "q", "s")])
            order_cols = [lead_col] + [k for k in keys if k != lead_col]
        name = f"w_{fn}"
        w = {"function": fn, "as": name}
        if field:
            w["field"] = field
        if part:
            w["partitionBy"] = part
        if order_cols:
            w["orderBy"] = [{"field": c, "type": "asc"} for c in order_cols]
        if fn in ("lag", "lead"):
            w["offset"] = r.randint(1, 3)
        spec["windows"] = [w]
        over = []
        if part:
            over.append("PARTITION BY " + ", ".join(q(c) for c in part))
        if order_cols:
            over.append("ORDER BY " + ", ".join(f"{q(c)} ASC NULLS FIRST" for c in order_cols))
        ov = " ".join(over)
        f = q(field) if field else None
        expr = {
            "row_number": f"row_number() OVER ({ov})",
            "rank": f"rank() OVER ({ov})",
            "dense_rank": f"dense_rank() OVER ({ov})",
            "lag": f"lag({f}, {w.get('offset', 1)}) OVER ({ov})",
            "lead": f"lead({f}, {w.get('offset', 1)}) OVER ({ov})",
            "sum": (f"CAST(SUM(CAST({f} AS DECIMAL(30,6))) OVER ({ov}"
                    f"{' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW' if order_cols else ''}) AS DOUBLE)"),
            "avg": f"avg({f}) OVER ({ov})",
            "min": f"min({f}) OVER ({ov})",
            "max": f"max({f}) OVER ({ov})",
            "count": f"count(*) OVER ({ov})",
        }[fn]
        kind = {"row_number": "i", "rank": "i", "dense_rank": "i", "count": "i",
                "sum": "d", "avg": "d"}.get(fn, kinds.get(field, "d"))
        return f"(SELECT *, {expr} AS {q(name)} FROM {rel})", {name: kind}


def etl_ops(seed, n_ops):
    """`n_ops` connector ops in seeded order. The mix of (table, read or
    write, extension shape) is fixed by `n_ops` alone, so seeds change the
    specs and their order but not how much of each kind of work a run does."""
    rng = random.Random(seed)
    gen = ConnectorGen(rng)
    tables = FACTS + ["rest"]
    shapes = ["plain", "join", "group", "window"]
    slots = [(tables[i % len(tables)], ("read", "write")[i % 2], shapes[(i // 2) % len(shapes)])
             for i in range(n_ops)]
    rng.shuffle(slots)
    ops = []
    for i, (table, kind, shape) in enumerate(slots):
        spec, sql = gen.connector(table, shape)
        ops.append({"id": f"op{i:03d}", "kind": kind,
                    "source": "rest" if table == "rest" else "parquet",
                    "connector": spec, "sql": sql})
    return ops


def registry_ops(seed, names):
    order = list(names)
    random.Random(seed).shuffle(order)
    return [{"id": f"op{i:03d}", "kind": "registry", "query": n} for i, n in enumerate(order)]


def generate(workload, seed, spec, seconds=10):
    """The timed ops of one run; connector streams are sized to --seconds."""
    w = spec["workloads"][workload]
    if workload == "etl_connectors":
        return etl_ops(seed, max(2, round(w["ops_per_second"] * seconds)))
    return registry_ops(seed, w["queries"])


def warmup(workload, spec):
    """The untimed warm-up: the same for every seed, so every run starts
    from the same state. Connector streams run a fixed set of specs that
    no timed op repeats; registry workloads run a query off their list."""
    w = spec["workloads"][workload]
    if workload == "etl_connectors":
        return etl_ops(-1, w["warmup_ops"])
    return registry_ops(-1, w["warmup"])


if __name__ == "__main__":
    import sys
    spec = json.load(open(sys.argv[3]))
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), spec), indent=1))
