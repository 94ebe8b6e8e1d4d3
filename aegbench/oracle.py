"""Independent output checks: DuckDB oracles and order-insensitive digests.

The compaction oracle reads the generator's own cell lists, never the
engine's decoder, and applies Cassandra's merge rules in SQL: range
tombstones (inclusive bounds, ``rt.ts >= cell.ts``), last write wins per
cell name, the row tombstone (a cell survives only if ``ts > deleted_at``)
and carries TTL and counter fields through. Timestamps in the corpora are
unique, so no tie rule is needed.
"""

from __future__ import annotations

import hashlib
import json

LONG_MIN = -(1 << 63)

#: One canonical relation the oracle compacts. Each workload maps its
#: generator files onto these columns in a view named ``input``.
_COMPACT_SQL = """
WITH
rows AS (
  SELECT key, max(coalesce(row_deleted_at, {long_min})) AS deleted_at
  FROM input GROUP BY key),
rts AS (SELECT DISTINCT key, name AS lo, name_max AS hi, ts FROM input WHERE kind = 't'),
live AS (
  SELECT c.* FROM input c
  WHERE c.kind IN ('c', 'd', 'e', 'x')
    AND NOT EXISTS (SELECT 1 FROM rts t
                    WHERE t.key = c.key AND c.name >= t.lo AND c.name <= t.hi
                      AND t.ts >= c.ts)),
lww AS (
  SELECT *, row_number() OVER (PARTITION BY key, name ORDER BY ts DESC) AS rn FROM live),
won AS (
  SELECT l.key, l.name, l.value, l.ts, l.kind, l.ttl, l.ldt, l.tsld
  FROM lww l JOIN rows r USING (key) WHERE l.rn = 1 AND l.ts > r.deleted_at)
"""


def compaction_tables(con) -> tuple[dict, list]:
    """Run the oracle over the ``input`` view: returns (deleted_at per key,
    surviving cells sorted by key and name)."""
    sql = _COMPACT_SQL.format(long_min=LONG_MIN)
    deleted = dict(con.execute(sql + "SELECT key, deleted_at FROM rows").fetchall())
    cells = con.execute(
        sql + "SELECT key, name, value, ts, kind, ttl, ldt, tsld FROM won ORDER BY key, name"
    ).fetchall()
    return deleted, cells


def aeg_json_lines(deleted: dict, cells: list) -> list[str]:
    """Expected aeg-JSON snapshot lines (BytesType key/name/value: hex),
    rendered here from the oracle's rows, not by the engine's renderer."""
    cols: dict[bytes, list] = {k: [] for k in deleted}
    for key, name, value, ts, kind, ttl, ldt, tsld in cells:
        entry = [bytes(name).hex(), bytes(value or b"").hex(), ts]
        if kind == "d":
            entry.append("d")
        elif kind == "e":
            entry += ["e", ttl, ldt]
        elif kind == "x":
            entry += ["c", tsld]
        cols[key].append(entry)
    out = []
    for key, entries in cols.items():
        k = bytes(key).hex()
        body = json.dumps({k: {"deletedAt": deleted[key], "columns": entries}},
                          separators=(",", ":"))
        out.append(f"{k}\t{body}")
    return out


def digest(lines) -> str:
    """Order-insensitive digest of a multiset of lines: line count plus the
    sum (mod 2**64) of each line's 64-bit BLAKE2b."""
    total, n = 0, 0
    for line in lines:
        total += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "big")
        n += 1
    return f"{n}:{total % (1 << 64):016x}"


def diff_lines(got: list[str], want: list[str], limit: int = 3) -> list[str]:
    """Human-readable differences between two line multisets, by row key."""
    def by_key(lines):
        return {ln.split("\t", 1)[0]: ln for ln in lines}

    g, w = by_key(got), by_key(want)
    problems = []
    if len(got) != len(want):
        problems.append(f"{len(got)} rows, expected {len(want)}")
    for k in sorted(set(g) | set(w)):
        if g.get(k) != w.get(k):
            problems.append(f"row {k}: got {g.get(k)!r:.200} expected {w.get(k)!r:.200}")
            if len(problems) > limit:
                break
    return problems


def plant_defects(lines: list[str]) -> dict[str, list[str]]:
    """Wrong snapshots derived from a correct one, one defect each: an
    overwritten cell value, a resurrected (extra) cell, a lost row and a
    row tombstone that was dropped. The verifier must reject every one."""
    i = next(j for j, ln in enumerate(lines) if '"columns":[[' in ln)
    key, body = lines[i].split("\t", 1)
    doc = json.loads(body)
    row = doc[key]

    def with_row(new_row) -> list[str]:
        out = list(lines)
        out[i] = f"{key}\t" + json.dumps({key: new_row}, separators=(",", ":"))
        return out

    overwritten = json.loads(json.dumps(row))
    first = overwritten["columns"][0]
    first[1] = (first[1] or "00")[::-1] + "ff"
    resurrected = json.loads(json.dumps(row))
    resurrected["columns"].append(["ffff", "00", row["columns"][0][2] - 1])
    undeleted = json.loads(json.dumps(row))
    undeleted["deletedAt"] = LONG_MIN if row["deletedAt"] != LONG_MIN else 1
    return {
        "overwritten_value": with_row(overwritten),
        "resurrected_cell": with_row(resurrected),
        "lost_row": lines[:i] + lines[i + 1 :],
        "row_tombstone_dropped": with_row(undeleted),
    }


def check_planted_defects(lines: list[str]) -> list[str]:
    """Names of planted defects the digest check failed to reject."""
    want = digest(lines)
    return [name for name, bad in plant_defects(lines).items() if digest(bad) == want]


#: Canonical text of one snapshot row, shared by the engine-side and the
#: oracle-side digests of the incremental merge so both go through the
#: same DuckDB expression. ``cells`` is a list of structs.
_CANON_ROW = (
    "hex(key) || '|' || deleted_at::VARCHAR || '|' || coalesce(array_to_string(list_sort("
    "list_transform(cells, c -> hex(c.name) || ',' || coalesce(hex(c.value), '') || ',' || "
    "c.ts::VARCHAR || ',' || c.kind || ',' || coalesce(c.ttl::VARCHAR, '') || ',' || "
    "coalesce(c.ldt::VARCHAR, '') || ',' || coalesce(c.tsld::VARCHAR, ''))), ';'), '')"
)


def _canon_digest(con, rows_sql: str) -> str:
    n, total = con.execute(
        f"SELECT count(*), coalesce(sum(hash({_CANON_ROW})), 0) % 18446744073709551616 "
        f"FROM ({rows_sql})"
    ).fetchone()
    return f"{n}:{int(total):016x}"


def snapshot_parquet_digest(con, parquet_dir: str) -> str:
    """Digest of an engine snapshot version (compacted rows, parquet)."""
    rows = (
        "SELECT partition_key AS key, deleted_at, list_transform(columns, c -> {"
        "'name': c.name, 'value': c.value, 'ts': c.ts, 'kind': c.kind, 'ttl': c.ttl, "
        "'ldt': c.local_deletion_time, 'tsld': c.ts_of_last_delete}) AS cells "
        f"FROM read_parquet('{parquet_dir}/*.parquet')"
    )
    return _canon_digest(con, rows)


def oracle_snapshot_digest(con) -> str:
    """Digest of the oracle's compaction of ``input`` in the snapshot
    layout the incremental merge keeps: surviving cells plus surviving
    range tombstones as ``kind='t'`` entries (min bound in name, max in
    value)."""
    sql = _COMPACT_SQL.format(long_min=LONG_MIN)
    rows = sql + (
        ", kept AS ("
        "  SELECT key, name, value, ts, kind, ttl::INTEGER AS ttl, ldt::INTEGER AS ldt, "
        "         tsld FROM won "
        "  UNION ALL SELECT t.key, t.lo, t.hi, t.ts, 't', NULL, NULL, NULL "
        "  FROM rts t JOIN rows r USING (key) WHERE t.ts > r.deleted_at) "
        "SELECT r.key, r.deleted_at, list({'name': k.name, 'value': k.value, 'ts': k.ts, "
        "'kind': k.kind, 'ttl': k.ttl, 'ldt': k.ldt, 'tsld': k.tsld}) "
        "FILTER (WHERE k.key IS NOT NULL) AS cells "
        "FROM rows r LEFT JOIN kept k USING (key) GROUP BY r.key, r.deleted_at"
    )
    return _canon_digest(con, rows)
