"""Derive the default-seed output checksums with DuckDB.

    python3 perfbench/oracle.py [seed]

Builds each workload's input in DuckDB SQL (a twin of the Spark
generators in perfbench/src/perfbench/Workloads.scala; sizes below must
equal the ones there), replays the program's semantics with the SQL
twins of graft.queries.Parity (url edges: lowercase, strip scheme and
fragment, self-join per base url; PDQ edges: word-split popcount over
distinct hashes, upper triangle mirrored plus the diagonal, min distance
per pair) and a brute-force nearest-hash classify, and prints the
checksums as the Scala `Pinned` entries. The checksum is the one
`Workloads.edgeChecksum` and `Gen.EdgeSum` compute.
"""
import sys

import duckdb

SEED = int(sys.argv[1]) if len(sys.argv) > 1 else 1

DETECT_ROWS, URL_GROUPS, PDQ_GROUPS, DETECT_RADIUS = 40000, 800, 400, 5
FUZZY_HASHES, FUZZY_RADIUS = 8000, 51
CORPUS, BATCH, INDEX_RADIUS = 8000, 300, 31
P = 2147483647


def h(salt: str, key: str) -> str:
    """SQL twin of Workloads.hashCol."""
    return f"(md5('{salt}' || CAST({key} AS VARCHAR)) || md5('{salt}' || CAST({key} AS VARCHAR) || 'x'))"


def flip(x: str) -> str:
    return f"(substr({x}, 1, 63) || (CASE WHEN substr({x}, 64, 1) = '0' THEN '1' ELSE '0' END))"


def words(col: str) -> str:
    return ", ".join(f"CAST('0x' || substr({col}, {k * 8 + 1}, 8) AS BIGINT) AS w{k}" for k in range(8))


DIST = " + ".join(f"CAST(bit_count(xor(a.w{k}, b.w{k})) AS INTEGER)" for k in range(8))


def pdq_edges_ctes(input_sql: str, radius: int) -> str:
    """Twin of Parity.pdqWordEdgesCtes. The row pairs are materialized
    before the self-pair filter: left inside the join, DuckDB plans that
    inequality as a join condition between the two row sides, a
    rows x rows product."""
    return f"""
    rows_ AS ({input_sql}),
    ex AS (SELECT DISTINCT idx, ch FROM (SELECT idx, lower(lpad(unnest(pdq), 64, '0')) AS ch FROM rows_)),
    dw AS (SELECT ch, {words('ch')} FROM (SELECT DISTINCT ch FROM ex)),
    neart AS (SELECT a.ch AS pch, b.ch AS cch, {DIST} AS dist FROM dw a JOIN dw b ON a.ch < b.ch),
    near AS (
      SELECT pch, cch, dist FROM neart WHERE dist <= {radius}
      UNION ALL SELECT cch, pch, dist FROM neart WHERE dist <= {radius}
      UNION ALL SELECT ch, ch, 0 FROM dw),
    pairs AS MATERIALIZED (
      SELECT pa.idx AS src, pb.idx AS dst, n.dist
      FROM near n JOIN ex pa ON pa.ch = n.pch JOIN ex pb ON pb.ch = n.cch),
    edges AS (
      SELECT src, dst, CAST(min(dist) AS BIGINT) AS dist FROM pairs WHERE src <> dst GROUP BY src, dst)"""


def url_edges_ctes(input_sql: str) -> str:
    """Twin of Parity.urlEdgesCtes."""
    return f"""
    t_ AS ({input_sql}),
    n AS (
      SELECT idx, regexp_replace(regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', ''), '#.*$', '', 's') AS base_url
      FROM t_ WHERE url IS NOT NULL),
    urledges AS (SELECT a.idx AS src, b.idx AS dst FROM n a JOIN n b ON b.base_url = a.base_url AND b.idx <> a.idx)"""


def checksum(con, edges_sql: str) -> tuple:
    """(rows, url rows, s1, s2) over edges_sql's (src, dst, dist, kind)."""
    row = con.execute(f"""
      WITH e AS ({edges_sql}),
      k AS (SELECT kind, ((((CAST(src AS BIGINT) * 1048576 + CAST(dst AS BIGINT)) * 512 + dist) * 2 + kind) % {P}) AS k
            FROM e)
      SELECT count(*), CAST(coalesce(sum(CASE WHEN kind = 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(coalesce(sum(k), 0) AS BIGINT), CAST(coalesce(sum((k * k) % {P}), 0) AS BIGINT) FROM k""").fetchone()
    return tuple(int(x) for x in row)


def detect_archive(con) -> tuple:
    stride = DETECT_ROWS // PDQ_GROUPS
    base = h(f"{SEED}/p/", f"id // {stride}")
    inp = f"""
      SELECT lpad(CAST(id AS VARCHAR), 8, '0') AS idx,
        (CASE WHEN id % 3 = 0 THEN 'https://' WHEN id % 3 = 1 THEN 'http://' ELSE '' END)
        || (CASE WHEN id % 5 = 0 THEN upper(host) ELSE host END) || '/item/' || CAST(id % {URL_GROUPS} AS VARCHAR)
        || (CASE WHEN id % 4 = 0 THEN '#sec' || CAST(id AS VARCHAR) ELSE '' END) AS url,
        [CASE WHEN id % 5 = 0 THEN {flip('base')} ELSE base END] AS pdq
      FROM (SELECT id, 'shop-' || substr(md5('{SEED}/u/' || CAST(id % {URL_GROUPS} AS VARCHAR)), 1, 10)
                   || '.example.com' AS host, {base} AS base
            FROM range(0, {DETECT_ROWS}) r(id))"""
    return checksum(con, f"""
      WITH {url_edges_ctes(f"SELECT idx, url FROM ({inp})")},
      {pdq_edges_ctes(f"SELECT idx, pdq FROM ({inp})", DETECT_RADIUS)}
      SELECT src, dst, 0 AS dist, 0 AS kind FROM urledges
      UNION ALL SELECT src, dst, dist, 1 AS kind FROM edges""")


def fuzzy_radius(con) -> tuple:
    salt = f"{SEED}/f/"
    inp = f"""
      SELECT lpad(CAST(id AS VARCHAR), 8, '0') AS idx,
        [CASE WHEN id % 997 = 0 THEN {flip(h(salt, 'id'))} WHEN id % 997 = 1 THEN {h(salt, 'id - 1')}
              ELSE {h(salt, 'id')} END] AS pdq
      FROM range(0, {FUZZY_HASHES}) r(id)"""
    return checksum(con, f"""
      WITH {pdq_edges_ctes(inp, FUZZY_RADIUS)}
      SELECT src, dst, dist, 1 AS kind FROM edges""")


def index_ingest(con) -> tuple:
    stride = CORPUS // 200
    copied = h(f"{SEED}/c/", f"id * {stride}")
    batch = f"""
      SELECT id AS bid, CASE WHEN id < 100 THEN {copied} WHEN id < 200 THEN {flip(copied)}
                             ELSE {h(f"{SEED}/n/", 'id')} END AS ch
      FROM range(0, {BATCH}) r(id)"""
    corpus = f"SELECT id AS cid, {h(f'{SEED}/c/', 'id')} AS ch FROM range(0, {CORPUS}) r(id)"
    return checksum(con, f"""
      WITH b AS (SELECT bid, {words('ch')} FROM ({batch})),
      c AS (SELECT cid, {words('ch')} FROM ({corpus})),
      best AS (SELECT a.bid, min(CAST({DIST} AS BIGINT) * 4294967296 + b.cid) AS m FROM b a, c b GROUP BY a.bid),
      cls AS (
        SELECT bid, CASE WHEN m // 4294967296 > {INDEX_RADIUS} THEN 2 WHEN m // 4294967296 = 0 THEN 0 ELSE 1 END AS status,
               CASE WHEN m // 4294967296 > {INDEX_RADIUS} THEN -1 ELSE m % 4294967296 END AS best_id,
               CASE WHEN m // 4294967296 > {INDEX_RADIUS} THEN -1 ELSE m // 4294967296 END AS best_dist
        FROM best)
      SELECT bid * 4 + status AS src, best_id + 1 AS dst, best_dist + 1 AS dist, 1 AS kind FROM cls""")


def main() -> None:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '3GB'")
    for name, fn in [("detectArchive", detect_archive), ("fuzzyRadius", fuzzy_radius), ("indexIngest", index_ingest)]:
        n, n_url, s1, s2 = fn(con)
        print(f"  val {name}: Map[Long, (Long, Long, Long, Long)] = Map({SEED}L -> ({n}L, {n_url}L, {s1}L, {s2}L))")


if __name__ == "__main__":
    main()
