"""Output checks that run outside the program, with DuckDB over exactly
the parquet files the lake's commit log names.

- lake(): per-route committed rows equal the generator's counts, and the
  row ledger balances (lines landed = committed rows + quarantined rows
  + blank lines).
- oracle(): the nine q_ocsf_lake_* query shapes re-run in DuckDB match
  the answers the program gave in the lake_query run's last round.
"""
import json
import os

import duckdb

DAY = 20231115

COMPLETENESS = [
    ("Process Activity", "process_activity",
     ["process.pid", "process.file.name", "device.os.type"]),
    ("DNS Activity", "dns_activity", ["query.hostname", "rcode", "src_endpoint.uid"]),
    ("Authentication", "authentication", ["user.name", "logon_type_id", "status"]),
]


def _sql(files):
    def t(table):
        paths = ", ".join("'%s'" % p.replace("'", "''") for p in files[table])
        return "read_parquet([%s], hive_partitioning=1)" % paths

    completeness = "\nUNION ALL\n".join(
        "SELECT '%s' AS table_name, '%s' AS field, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(count(%s) AS BIGINT) AS n_nonnull, "
        "round(count(%s) * 1.0 / greatest(count(*), 1), 4) AS pct_nonnull FROM %s"
        % (name, f, q, q, t(table))
        for name, table, fields in COMPLETENESS
        for f in fields
        for q in ['.'.join('"%s"' % s for s in f.split('.'))])
    day_union = "\nUNION ALL\n".join(
        "SELECT class_uid, class_name, category_name FROM %s WHERE eventDay = %d" % (t(x), DAY)
        for x in ["process_activity", "network_activity", "dns_activity",
                  "authentication", "http_activity"])
    return {
        "completeness": completeness,
        "proc_days": """
            SELECT CAST(eventDay AS VARCHAR) AS event_day, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT process.pid) AS BIGINT) AS n_pids,
                   strftime(max(time), '%%Y-%%m-%%d %%H:%%M:%%S') AS max_time
            FROM %s WHERE device.os.type = 'Windows'
              AND process.parent_process.file.name = 'explorer.exe' GROUP BY 1""" % t("process_activity"),
        "dns_family": """
            SELECT "query".hostname AS hostname, rcode, CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(count(DISTINCT src_endpoint.uid) AS BIGINT) AS n_devices
            FROM %s WHERE "query".hostname LIKE 'host12%%' GROUP BY 1, 2""" % t("dns_activity"),
        "http_errors": """
            SELECT http_request.url.hostname AS hostname, http_request.http_method AS http_method,
                   CAST(count(*) AS BIGINT) AS n_errors
            FROM %s WHERE status_code = '404' GROUP BY 1, 2""" % t("http_activity"),
        "auth_users": """
            SELECT "user".name AS user_name, CAST(count(*) AS BIGINT) AS n_logons,
                   CAST(count(DISTINCT logon_type_id) AS BIGINT) AS n_logon_types
            FROM %s GROUP BY 1""" % t("authentication"),
        "net_direction": """
            SELECT connection_info.direction AS direction, dst_endpoint.port AS dst_port,
                   CAST(count(*) AS BIGINT) AS n_conns,
                   CAST(count(DISTINCT dst_endpoint.ip) AS BIGINT) AS n_dst_ips
            FROM %s GROUP BY 1, 2""" % t("network_activity"),
        "observables": """
            WITH o AS (SELECT UNNEST(observables) AS ob FROM %s)
            SELECT ob.type_id AS type_id, ob.type AS obs_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT ob.value) AS BIGINT) AS n_values
            FROM o GROUP BY 1, 2""" % t("process_activity"),
        "day_classes": """
            WITH u AS (%s)
            SELECT class_uid, class_name, category_name, CAST(count(*) AS BIGINT) AS n_events
            FROM u GROUP BY 1, 2, 3""" % day_union,
        "extapi": """
            SELECT status, http_request.http_method AS http_method,
                   src_endpoint.owner.account.type AS account_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT http_request.url.path) AS BIGINT) AS n_paths
            FROM %s GROUP BY 1, 2, 3""" % t("extapi"),
    }


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 4)
    return str(v)


def _rows(columns, rows):
    out = [tuple(_norm(r[i]) for i in range(len(columns))) for r in rows]
    return sorted(out, key=repr)


def _load(work_dir, name):
    with open(os.path.join(work_dir, name)) as f:
        return json.load(f)


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 1")
    return con


def lake(work_dir):
    """Returns one (name, ok, detail) per route plus one for the ledger."""
    files = _load(work_dir, "lake_files.json")
    ledger = _load(work_dir, "ledger.json")
    con = _connect()
    results = []
    committed = 0
    try:
        for table in sorted(files):
            want = ledger["expected_rows"].get(table, 0)
            paths = files[table]
            got = con.execute("SELECT count(*) FROM read_parquet([%s])" % ", ".join(
                "'%s'" % p.replace("'", "''") for p in paths)).fetchone()[0] if paths else 0
            committed += got
            results.append(("rows." + table, got == want, "%d != %d" % (got, want)))
    finally:
        con.close()
    balance = committed + sum(ledger["quarantined"].values()) + ledger["blank"]
    results.append(("ledger", balance == ledger["lines"], "%d != %d" % (balance, ledger["lines"])))
    return results


def oracle(work_dir):
    """Returns one (name, ok, detail) per query shape."""
    answers = _load(work_dir, "answers.json")
    files = _load(work_dir, "lake_files.json")
    con = _connect()
    results = []
    try:
        for name, sql in _sql(files).items():
            try:
                ans = answers[name]
                cols = ans["columns"]
                spark_rows = [json.loads(j) for j in ans["rows"]]
                got = _rows(cols, [[r.get(c) for c in cols] for r in spark_rows])
                duck = con.execute(sql)
                dcols = [d[0] for d in duck.description]
                want = _rows(cols, [[dict(zip(dcols, r)).get(c) for c in cols]
                                    for r in duck.fetchall()])
                ok = got == want and len(want) > 0
                results.append(("oracle." + name, ok,
                                "" if ok else "%d spark rows vs %d duckdb rows" % (len(got), len(want))))
            except Exception as e:  # a failed comparison is a failed check
                results.append(("oracle." + name, False, repr(e)))
    finally:
        con.close()
    return results
