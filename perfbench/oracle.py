"""Independent DuckDB oracles, computed outside the timed window.

Each oracle reads the generated files itself (its own JSON decode and
its own ``parseTs``) and builds a batch model of what the streaming
job must emit. Windows are keyed by their start in epoch microseconds,
so no timezone conversion sits between the two engines. Sums are exact
decimal sums cast to double, as the pipeline's ``sum_exact`` does.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import duckdb

from feedgen import WATERMARK_S, WINDOW_S, US

_PARSE_TS = ("strptime(substr(ts, 1, 14), '%Y%m%d%H%M%S') + "
             "to_microseconds(CAST(rpad(substr(ts, 15, 6), 6, '0') AS BIGINT))")


def _json(paths, columns: dict[str, str], filename: bool = False) -> str:
    files = "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    cols = "{" + ", ".join(f"'{k}': '{v}'" for k, v in columns.items()) + "}"
    return (f"read_json({files}, format='newline_delimited', columns={cols}"
            f"{', filename=true' if filename else ''})")


@dataclass
class Check:
    """Outcome of comparing emitted rows with a model."""
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)


def compare_rows(emitted: list[tuple], must: dict, may: dict) -> Check:
    """``emitted``: (window_us, country, state, total) rows. Every key
    of ``must`` has to be emitted once with the model's total; keys of
    ``may`` (a superset) are allowed. Counts duplicates, wrong totals,
    unexpected rows and missing rows as failures."""
    seen = Counter((w, c, s) for w, c, s, _ in emitted)
    problems = [f"duplicate {k}" for k, n in seen.items() if n > 1]
    for w, c, s, total in emitted:
        key = (w, c, s)
        if key not in may:
            problems.append(f"unexpected {key}")
        elif may[key] != total:
            problems.append(f"total {key}: got {total!r} want {may[key]!r}")
    problems += [f"missing {k}" for k in must if k not in seen]
    return Check(max(len(must), len(emitted)), len(problems), problems[:20])


@dataclass
class TailModel:
    must: dict            # (window_us, country, state) -> total
    may: dict
    file_max_us: dict     # file path -> max kept event time (us)
    n_dropped: int        # live rows older than the backlog watermark


def tail_model(feed, released: list[str]) -> TailModel:
    """Batch model of ``streaming_flagship`` over the released files.

    Live rows at or before the backlog's watermark (its max event time
    minus the delay) are dropped; the generator keeps every other live
    row within the delay of its file, so no other row can be late
    whatever the batch split. Windows whose end is at or before the
    final watermark are emitted.
    """
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE states AS SELECT * FROM "
                    f"{_json([feed.states], {'StateProvinceID': 'INTEGER', 'CountryRegionCode': 'VARCHAR', 'Name': 'VARCHAR'})}")
        con.execute(f"CREATE TABLE address AS SELECT * FROM "
                    f"{_json([feed.address], {'AddressID': 'INTEGER', 'StateProvinceID': 'INTEGER'})}")
        con.execute(f"""
            CREATE TABLE ev AS
            SELECT filename AS f, after_image.ShipToAddressId AS aid,
                   after_image.TotalDue AS due,
                   epoch_us({_PARSE_TS}) AS t
            FROM (SELECT filename, after_image, sv_op_timestamp AS ts FROM
                  {_json(released, {'sv_op_timestamp': 'VARCHAR', 'after_image': 'STRUCT(ShipToAddressId INTEGER, TotalDue DOUBLE)'}, filename=True)})""")
        backlog = set(feed.backlog)
        con.execute("CREATE TABLE backlog(f VARCHAR)")
        con.executemany("INSERT INTO backlog VALUES (?)", [[p] for p in released if p in backlog])
        con.execute(f"""
            CREATE TABLE joined AS
            SELECT e.f, e.t, e.due, s.CountryRegionCode AS country, s.Name AS state,
                   e.f IN (SELECT f FROM backlog) AS in_backlog
            FROM ev e JOIN address a ON e.aid = a.AddressID
                      JOIN states s ON a.StateProvinceID = s.StateProvinceID""")
        backlog_wm = con.execute(
            f"SELECT max(t) - {WATERMARK_S * US} FROM joined WHERE in_backlog").fetchone()[0]
        con.execute(f"CREATE TABLE kept AS SELECT * FROM joined "
                    f"WHERE in_backlog OR t > {backlog_wm}")
        n_dropped = con.execute("SELECT (SELECT count(*) FROM joined) - "
                                "(SELECT count(*) FROM kept)").fetchone()[0]
        final_wm = con.execute(
            f"SELECT max(t) - {WATERMARK_S * US} FROM kept").fetchone()[0]
        w = WINDOW_S * US
        rows = con.execute(f"""
            SELECT t - t % {w} AS ws, country, state,
                   CAST(SUM(CAST(due AS DECIMAL(28, 6))) AS DOUBLE)
            FROM kept GROUP BY ALL""").fetchall()
        may = {(ws, c, s): v for ws, c, s, v in rows if ws + w <= final_wm}
        must = {k: v for k, v in may.items() if k[0] + w < final_wm}
        file_max = dict(con.execute("SELECT f, max(t) FROM kept GROUP BY f").fetchall())
        return TailModel(must, may, file_max, n_dropped)
    finally:
        con.close()


def stateful_model(feed) -> dict:
    """Batch model of ``streaming_flagship_full``: each fact takes the
    latest dimension version as of its own time, and a fact older than
    every version of its key takes the first version (the buffer is
    flushed when that version arrives). Facts whose key never appears
    stay buffered and are not emitted."""
    con = duckdb.connect()
    glob = lambda d: [os.path.join(d, n) for n in sorted(os.listdir(d))]
    try:
        con.execute(f"CREATE TABLE states AS SELECT * FROM "
                    f"{_json(glob(feed.states_dir), {'StateProvinceID': 'INTEGER', 'CountryRegionCode': 'VARCHAR', 'StateName': 'VARCHAR', 'StatesAsOf': 'DOUBLE'})}")
        con.execute(f"CREATE TABLE address AS SELECT * FROM "
                    f"{_json(glob(feed.address_dir), {'AddressID': 'INTEGER', 'City': 'VARCHAR', 'StateProvinceID': 'INTEGER', 'AddressAsOf': 'DOUBLE'})}")
        con.execute(f"CREATE TABLE orders AS SELECT *, epoch_us(OrderAsOf) / 1e6 AS ord FROM "
                    f"{_json(glob(feed.orders_dir), {'SalesOrderId': 'INTEGER', 'AddressId': 'INTEGER', 'TotalDue': 'DOUBLE', 'OrderAsOf': 'TIMESTAMP'})}")

        def asof(fact, dim, fkey, dkey, ford, dord, cols, out):
            picked = ", ".join(
                f"CASE WHEN d.{dkey} IS NULL THEN f1.{c} ELSE d.{c} END AS {c}"
                for c in cols)
            con.execute(f"""
                CREATE TABLE {out} AS
                SELECT x.*, {picked}
                FROM {fact} x
                ASOF LEFT JOIN {dim} d ON x.{fkey} = d.{dkey} AND x.{ford} >= d.{dord}
                JOIN (SELECT * FROM {dim} QUALIFY row_number() OVER
                      (PARTITION BY {dkey} ORDER BY {dord}) = 1) f1
                  ON x.{fkey} = f1.{dkey}""")

        asof("address", "states", "StateProvinceID", "StateProvinceID",
             "AddressAsOf", "StatesAsOf", ["CountryRegionCode", "StateName"], "hop1")
        asof("orders", "hop1", "AddressId", "AddressID", "ord", "AddressAsOf",
             ["CountryRegionCode", "StateName"], "hop2")
        w = WINDOW_S * US
        rows = con.execute(f"""
            SELECT epoch_us(OrderAsOf) - epoch_us(OrderAsOf) % {w} AS ws,
                   CountryRegionCode, StateName,
                   CAST(SUM(CAST(TotalDue AS DECIMAL(28, 6))) AS DOUBLE)
            FROM hop2 GROUP BY ALL""").fetchall()
        return {(ws, c, s): v for ws, c, s, v in rows}
    finally:
        con.close()
