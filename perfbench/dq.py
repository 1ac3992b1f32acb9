"""The `dq` workload's job config and its DuckDB cross-check.

The job is written as HOCON from the tables below, so the metrics the
program runs and the SQL they are checked against sit side by side. Each
metric carries how its stored value is judged against DuckDB:

  exact    counts, sums of integer-valued doubles, min/max: equal
  fsum     sums of doubles: against the exact decimal sum, within the error
           bound of floating-point summation, (n - 1) * 2^-53 * sum|x|
  rel      averages, deviations, shares: relative error <= 1e-9
  rank     approximate quantiles: the value's rank is within 1/accuracy
           (percentile_approx accuracy 10000) of the asked-for quantile
  hll      approximate distinct counts: within 5 relative standard
           deviations (accuracyError 0.01) of the exact count
"""

import math
import os

import duckdb

SOURCE = "li"
ERROR_DUMP_SIZE = 20

# (id, name, columns, params, duckdb sql, judged as)
ROW_METRICS = [
    ("rows", "ROW_COUNT", [], {}, "count(*)", "exact"),
    ("null_comment", "NULL_VALUES", ["l_comment"], {}, "count(*) FILTER (l_comment IS NULL)", "exact"),
    ("empty_instruct", "EMPTY_VALUES", ["l_shipinstruct"], {},
     "count(*) FILTER (l_shipinstruct = '')", "exact"),
    ("complete_comment", "COMPLETENESS", ["l_comment"], {}, "count(l_comment) / count(*)", "rel"),
    ("sum_qty", "SUM_NUMBER", ["l_quantity"], {}, "sum(l_quantity)", "exact"),
    ("sum_price", "SUM_NUMBER", ["l_extendedprice"], {}, "sum(l_extendedprice::DECIMAL(38, 2))", "fsum"),
    ("min_discount", "MIN_NUMBER", ["l_discount"], {}, "min(l_discount)", "exact"),
    ("max_price", "MAX_NUMBER", ["l_extendedprice"], {}, "max(l_extendedprice)", "exact"),
    ("avg_qty", "AVG_NUMBER", ["l_quantity"], {}, "avg(l_quantity)", "rel"),
    ("std_price", "STD_NUMBER", ["l_extendedprice"], {}, "stddev_pop(l_extendedprice)", "rel"),
    ("casted_flag", "CASTED_NUMBER", ["l_returnflag"], {},
     "count(TRY_CAST(l_returnflag AS DOUBLE))", "exact"),
    ("casted_qty", "CASTED_NUMBER", ["l_qty_str"], {}, "count(TRY_CAST(l_qty_str AS DOUBLE))", "exact"),
    ("fmt_qty", "FORMATTED_NUMBER", ["l_qty_str"], {"precision": 5, "scale": 2},
     "count(*) FILTER (TRY_CAST(l_qty_str AS DOUBLE) IS NOT NULL"
     " AND abs(TRY_CAST(l_qty_str AS DOUBLE)) < 1000"
     " AND TRY_CAST(l_qty_str AS DOUBLE) = round(TRY_CAST(l_qty_str AS DOUBLE), 2))", "exact"),
    ("between_discount", "NUMBER_BETWEEN", ["l_discount"], {"lower": 0.02, "upper": 0.08},
     "count(*) FILTER (l_discount >= 0.02 AND l_discount <= 0.08)", "exact"),
    ("qty_gt45", "NUMBER_GREATER_THAN", ["l_quantity"], {"compareValue": 45},
     "count(*) FILTER (l_quantity > 45)", "exact"),
    ("linenum_domain", "NUMBER_IN_DOMAIN", ["l_linenumber"], {"domain": "1,2,3"},
     "count(*) FILTER (l_linenumber IN (1, 2, 3))", "exact"),
    ("mode_air", "REGEX_MATCH", ["l_shipmode"], {"regex": "^(AIR|REG AIR)$"},
     "count(*) FILTER (regexp_matches(l_shipmode, '^(AIR|REG AIR)$'))", "exact"),
    ("flag_domain", "STRING_IN_DOMAIN", ["l_returnflag"], {"domain": "A,N,R"},
     "count(*) FILTER (l_returnflag IN ('A', 'N', 'R'))", "exact"),
    ("status_open", "STRING_VALUES", ["l_linestatus"], {"compareValue": "O"},
     "count(*) FILTER (l_linestatus = 'O')", "exact"),
    ("min_comment_len", "MIN_STRING", ["l_comment"], {}, "min(length(l_comment))", "exact"),
    ("max_comment_len", "MAX_STRING", ["l_comment"], {}, "max(length(l_comment))", "exact"),
    ("avg_comment_len", "AVG_STRING", ["l_comment"], {}, "avg(length(l_comment))", "rel"),
    ("mode_len", "STRING_LENGTH", ["l_shipmode"], {"length": 4, "rule": "lte"},
     "count(*) FILTER (length(l_shipmode) <= 4)", "exact"),
    ("date_fmt", "FORMATTED_DATE", ["l_shipdate"], {"format": "yyyy-MM-dd"},
     "count(try_strptime(l_shipdate, '%Y-%m-%d'))", "exact"),
    ("ship_receipt_days", "DAY_DISTANCE", ["l_shipdate", "l_receiptdate"], {"threshold": 20},
     "count(*) FILTER (abs(date_diff('day', try_strptime(l_receiptdate, '%Y-%m-%d'),"
     " try_strptime(l_shipdate, '%Y-%m-%d'))) < 20)", "exact"),
    ("commit_eq_receipt", "COLUMN_EQ", ["l_commitdate", "l_receiptdate"], {},
     "count(*) FILTER (l_commitdate = l_receiptdate)", "exact"),
    ("median_price", "MEDIAN_VALUE", ["l_extendedprice"], {}, 0.5, "rank"),
    ("q1_qty", "FIRST_QUANTILE", ["l_quantity"], {}, 0.25, "rank"),
    ("q3_price", "THIRD_QUANTILE", ["l_extendedprice"], {}, 0.75, "rank"),
    ("approx_orders", "APPROXIMATE_DISTINCT_VALUES", ["l_orderkey"], {"accuracyError": 0.01},
     "count(DISTINCT l_orderkey)", "hll"),
    ("top_mode", "TOP_N", ["l_shipmode"], {"targetNumber": 3},
     "(SELECT max(c) FROM (SELECT count(*) AS c FROM li GROUP BY l_shipmode)) / count(*)", "rel"),
    ("cov_qty_price", "COVARIANCE", ["l_quantity", "l_extendedprice"], {},
     "covar_pop(l_quantity, l_extendedprice)", "rel"),
    ("pct_discount", "GET_PERCENTILE", ["l_discount"], {"target": 0.05},
     "count(*) FILTER (l_discount <= 0.05) / count(l_discount)", "rel"),
]

GROUPING_METRICS = [
    ("distinct_supp", "DISTINCT_VALUES", ["l_suppkey"], {}, "count(DISTINCT l_suppkey)", "exact"),
    ("dup_keys", "DUPLICATE_VALUES", ["l_orderkey", "l_linenumber"], {},
     "(SELECT sum(c - 1) FROM (SELECT count(*) AS c FROM li GROUP BY l_orderkey, l_linenumber))",
     "exact"),
    ("distinct_flag_status", "DISTINCT_VALUES", ["l_returnflag", "l_linestatus"], {},
     "(SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM li))", "exact"),
]

COMPOSED = [
    ("null_share", "{{null_comment}} / {{rows}}"),
    ("avg_unit_price", "{{sum_price}} / {{sum_qty}}"),
]


def checks(rows):
    """(id, kind, base, compareMetric, threshold, formula); some pass, some fail."""
    return [
        ("c_rows", "EQUAL_TO", "rows", None, float(rows), None),
        ("c_nulls", "LESS_THAN", "null_share", None, 0.05, None),
        ("c_dups", "EQUAL_TO", "dup_keys", None, 0.0, None),
        ("c_casted", "GREATER_THAN", "casted_flag", None, 0.0, None),
        ("c_flag_vs_rows", "DIFFER_BY_LT", "flag_domain", "rows", 0.001, None),
        ("c_unit_price", "GREATER_THAN", "avg_unit_price", None, 900.0, None),
        ("c_expr_supp", "EXPRESSION", "", None, None,
         "{{distinct_supp}} <= 1000 && {{approx_orders}} > 0"),
        ("c_expr_dates", "EXPRESSION", "", None, None, "{{date_fmt}} == {{rows}}"),
    ]


ALL_METRICS = ROW_METRICS + GROUPING_METRICS

WORDS = ["furiously", "regular", "deposits", "sleep", "carefully", "final", "packages",
         "quickly", "ironic", "accounts", "blithely", "express", "pending", "bold"]


def generate(dest, seed, rows, files=8):
    """A lineitem-shaped table in `files` parquet files, every cell a pure
    function of (seed, row). Orders carry a seed-dependent key offset; a few
    (orderkey, linenumber) keys repeat, some comments are null, some ship
    instructions empty, some dates and quantity strings malformed, so every
    metric and error dump has work to do."""
    def u(k, m):
        return f"(hash(i, {seed}, {k}) % {m})::BIGINT"

    def pick(k, xs):
        return f"([{', '.join(repr(x) for x in xs)}])[{u(k, len(xs))} + 1]"

    words = lambda k: pick(k, WORDS)
    offset = abs(seed) % 1000 * 10000000
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"""
      CREATE TABLE li AS
      WITH base AS (SELECT range AS i FROM range({rows})),
      pre AS (SELECT i, ({u(4, 50)} + 1)::DOUBLE AS q,
                     DATE '1992-01-02' + {u(10, 2500)}::INTEGER AS ship FROM base)
      SELECT
        i // 4 + {offset} AS l_orderkey,
        ({u(2, 20000)} + 1)::BIGINT AS l_partkey,
        ({u(3, 1000)} + 1)::BIGINT AS l_suppkey,
        CASE WHEN {u(1, 500)} = 0 THEN 1 ELSE (i % 4 + 1)::INTEGER END AS l_linenumber,
        q AS l_quantity,
        round(q * (({u(5, 100000)} + 90000) / 100.0), 2)::DOUBLE AS l_extendedprice,
        ({u(6, 11)} / 100.0)::DOUBLE AS l_discount,
        ({u(7, 9)} / 100.0)::DOUBLE AS l_tax,
        {pick(8, ['A', 'N', 'R'])} AS l_returnflag,
        {pick(9, ['O', 'F'])} AS l_linestatus,
        CASE WHEN {u(13, 1000)} = 0 THEN '1995-13-45' ELSE strftime(ship, '%Y-%m-%d') END AS l_shipdate,
        strftime(ship + ({u(11, 61)}::INTEGER - 30), '%Y-%m-%d') AS l_commitdate,
        strftime(ship + ({u(12, 30)}::INTEGER + 1), '%Y-%m-%d') AS l_receiptdate,
        CASE WHEN {u(14, 100)} = 0 THEN ''
             ELSE {pick(15, ['DELIVER IN PERSON', 'COLLECT COD', 'NONE', 'TAKE BACK RETURN'])}
        END AS l_shipinstruct,
        {pick(16, ['AIR', 'RAIL', 'SHIP', 'TRUCK', 'MAIL', 'FOB', 'REG AIR'])} AS l_shipmode,
        CASE WHEN {u(17, 50)} = 0 THEN NULL
             ELSE concat_ws(' ', {words(18)}, {words(19)}, {words(20)},
                            CASE WHEN {u(21, 2)} = 0 THEN {words(22)} END)
        END AS l_comment,
        CASE WHEN {u(23, 200)} = 0 THEN 'n/a'
             WHEN {u(24, 100)} = 0 THEN printf('%.3f', q / 8)
             ELSE printf('%.2f', q) END AS l_qty_str,
        i
      FROM pre""")
    write_parts(con, "li", dest, files)
    con.close()


def write_parts(con, table, dest, files):
    """Writes `table` (which has a row number column i) as `files` parquet files."""
    os.makedirs(dest)
    for k in range(files):
        con.execute(f"COPY (SELECT * EXCLUDE (i) FROM {table} WHERE i % {files} = {k} ORDER BY i) "
                    f"TO '{dest}/part-{k:05d}.parquet' (FORMAT PARQUET)")


def _q(s):
    return '"' + str(s).replace("\\", "\\\\").replace('"', '\\"') + '"'


def write_conf(path, rows):
    """HOCON job config; ${data} and ${store} are filled per pass with -e."""
    def metric(m):
        mid, name, cols, params = m[:4]
        ps = ", ".join(f"{k} = {_q(v)}" for k, v in params.items())
        return (f"  {{id = {mid}, name = {name}, source = {SOURCE}, "
                f"columns = [{', '.join(cols)}], params = {{{ps}}}}}")

    def check(c):
        cid, kind, base, cmp, thr, formula = c
        parts = [f"id = {cid}", f"kind = {kind}"]
        if base:
            parts.append(f"base = {base}")
        if cmp:
            parts.append(f"compareMetric = {cmp}")
        if thr is not None:
            parts.append(f"threshold = {thr!r}")
        if formula:
            parts.append(f"formula = {_q(formula)}")
        return "  {" + ", ".join(parts) + "}"

    text = "\n".join([
        "jobId = graftbench",
        f"errorDumpSize = {ERROR_DUMP_SIZE}",
        "sources = [",
        f'  {{id = {SOURCE}, kind = parquet, path = "${{data}}", keyFields = [l_orderkey, l_linenumber]}}',
        "]",
        "metrics = [",
        ",\n".join(metric(m) for m in ALL_METRICS),
        "]",
        "composedMetrics = [",
        ",\n".join(f"  {{id = {i}, formula = {_q(f)}}}" for i, f in COMPOSED),
        "]",
        "checks = [",
        ",\n".join(check(c) for c in checks(rows)),
        "]",
        'storage = {kind = parquet, location = "${store}"}',
        "",
    ])
    with open(path, "w") as f:
        f.write(text)


def _formula(f, values):
    expr = f.replace("&&", " and ").replace("||", " or ").replace("<>", "!=")
    for k, v in values.items():
        expr = expr.replace("{{" + k + "}}", repr(float(v)))
    return eval(expr, {"__builtins__": {}})  # formulas come from the table above


def reference_values(con):
    """metric id -> DuckDB value (rank metrics are judged separately)."""
    out = {}
    for mid, _, _, _, sql, how in ALL_METRICS:
        if how != "rank":
            out[mid] = con.execute(f"SELECT {sql} FROM li").fetchone()[0]
    return out


def judge(input_dir, store_dir, rows):
    """[(check name, [failures])] for stored metrics and checks vs DuckDB."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{input_dir}/*.parquet')")
    stored = dict(con.execute(
        f"SELECT metric_id, result FROM read_parquet('{store_dir}/results_metrics/*.parquet')").fetchall())
    statuses = dict(con.execute(
        f"SELECT check_id, status FROM read_parquet('{store_dir}/results_checks/*.parquet')").fetchall())
    ref = reference_values(con)
    metric_fail = []
    for mid, _, cols, params, sql, how in ALL_METRICS:
        got = stored.get(mid)
        if got is None:
            metric_fail.append(f"{mid}: not stored")
            continue
        if how == "rank":
            n, lt, le = con.execute(
                f"SELECT count({cols[0]}), count(*) FILTER ({cols[0]} < ?), "
                f"count(*) FILTER ({cols[0]} <= ?) FROM li", [got, got]).fetchone()
            eps = 1.0 / 10000 + 1.0 / n
            if not (lt / n - eps <= sql <= le / n + eps):
                metric_fail.append(f"{mid}: {got} has rank [{lt / n:.6f}, {le / n:.6f}], want {sql}")
            continue
        want = float(ref[mid])
        ok = {"exact": got == want,
              "fsum": abs(got - want) <= (rows - 1) * 2.0 ** -53 * abs(want) + math.ulp(want),
              "rel": abs(got - want) <= 1e-9 * max(1.0, abs(want)),
              "hll": abs(got - want) <= 5 * 0.01 * want}[how]
        if not ok:
            metric_fail.append(f"{mid}: stored {got!r} != duckdb {want!r} ({how})")
    values = {k: float(v) for k, v in ref.items()}
    for mid, _, _, _, q, how in ALL_METRICS:
        if how == "rank":
            values[mid] = stored.get(mid, math.nan)
    for cid, f in COMPOSED:
        values[cid] = _formula(f, values)
        got = stored.get(cid)
        if got is None or abs(got - values[cid]) > 1e-9 * max(1.0, abs(values[cid])):
            metric_fail.append(f"{cid}: stored {got!r} != {values[cid]!r}")
    check_fail = []
    for cid, kind, base, cmp, thr, formula in checks(rows):
        b = values.get(base)
        c = values[cmp] if cmp else thr
        if kind == "EQUAL_TO":
            want = b == c
        elif kind == "LESS_THAN":
            want = b < c
        elif kind == "GREATER_THAN":
            want = b > c
        elif kind == "DIFFER_BY_LT":
            want = (0.0 if b == c == 0 else 1.0 if c == 0 else abs(b - c) / c) < thr
        else:
            want = bool(_formula(formula, values))
        got = statuses.get(cid)
        if got != ("Success" if want else "Failure"):
            check_fail.append(f"{cid}: stored {got}, duckdb says {'Success' if want else 'Failure'}")
    con.close()
    return [("dq_metrics_vs_duckdb", metric_fail), ("dq_checks_vs_duckdb", check_fail)]
