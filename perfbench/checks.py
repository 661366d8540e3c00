"""Output checks, made after the timed region.

Each checked result (the first execution of each distinct operation) is
compared with an answer computed apart from the program:

- "oracle": the registry's own DuckDB SQL (SparkEntry.oracleSql) over
  the same inputs;
- "listing": the benchmark's ListObjects query below (marker, prefix,
  delimiter grouping, maxKeys + 1 truncation).

Comparison follows tools/check_oracle.py: columns sorted by name, rows
sorted, floats rounded to 6 decimals. A negative control alters one
checked result and must be reported as a mismatch. DuckDB answers depend
only on the generated inputs and the SQL, so they are cached by a digest
of both under .bench_cache/.
"""
import hashlib
import json
import os
import re
import sys

import duckdb
import pandas as pd

# ListObjects over the objects view of the documents table, written
# independently of operators.Listing: a key is listed when it lies in
# the bucket, starts with the prefix and sorts after the marker (a
# marker that ends with the delimiter skips that whole common prefix);
# with a delimiter, keys whose remainder after the prefix holds it fold
# into their common prefix; the page is the first maxKeys + 1 entries.
LISTING_SQL = """
WITH objects AS (
  SELECT source AS bucket,
         lang || '/d' || CAST(doc_id % 7 AS VARCHAR) || '/doc_' ||
           lpad(CAST(doc_id AS VARCHAR), 6, '0') || '.txt' AS object
  FROM documents),
scanned AS (
  SELECT object FROM objects
  WHERE bucket = $bucket
    AND starts_with(object, $prefix)
    AND ($marker = '' OR (
      CASE WHEN $delimiter <> '' AND ends_with($marker, $delimiter)
           THEN object > $marker AND NOT starts_with(object, $marker)
           ELSE object > $marker END))),
classified AS (
  SELECT object,
         CASE WHEN $delimiter = '' THEN 0
              ELSE strpos(substr(object, length($prefix) + 1), $delimiter)
         END AS pos
  FROM scanned),
entries AS (
  SELECT object AS entry, 'key' AS kind FROM classified WHERE pos = 0
  UNION
  SELECT DISTINCT $prefix || substr(object, length($prefix) + 1,
                                    pos - 1 + length($delimiter)),
         'prefix'
  FROM classified WHERE pos > 0)
SELECT entry, kind FROM entries ORDER BY entry LIMIT $max_keys + 1
"""


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if hasattr(v, "tolist") and not isinstance(v, str):
            return cell(v.tolist())
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        return str(v)

    out = df.apply(lambda col: col.map(cell))
    return sorted(out.itertuples(index=False, name=None))


def _views_sql(views):
    return [f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{glob}')" for name, glob in sorted(views.items())]


def _inputs_digest(views, cache):
    """Digest of the view definitions and the bytes they read."""
    h = hashlib.sha256()
    for stmt in _views_sql(views):
        h.update(stmt.encode())
    for _, glob in sorted(views.items()):
        base = glob.split("*")[0].rstrip("/")
        paths = ([base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
            if f.endswith(".parquet")))
        for p in paths:
            key = (p, os.path.getmtime(p), os.path.getsize(p))
            if key not in cache:
                with open(p, "rb") as f:
                    cache[key] = hashlib.sha256(f.read()).hexdigest()
            h.update(cache[key].encode())
    return h.hexdigest()


# The registry's near-duplicate oracles compare every pair of documents
# (`FROM sh a JOIN sh b ON a.doc_id < b.doc_id` + a list_intersect
# Jaccard filter >= T): 98 s for 2000 documents. Their own filter is
# kept; the pairs it is applied to are narrowed, through a shingle ->
# document index, to those whose shared-shingle count c can reach T
# (Jaccard = c / (na + nb - c) >= T needs c * (1 + T) >= T * (na + nb)).
# Every pair dropped fails the filter, so the answer is unchanged.
ALL_PAIRS = re.compile(
    r"FROM sh a JOIN sh b ON a\.doc_id < b\.doc_id(\s+WHERE (?:.|\n)*?"
    r">=\s*([0-9.]+))")
SHARED_PAIRS = """FROM (
    SELECT x.doc_id AS ci, y.doc_id AS cj
    FROM (SELECT doc_id, len(sg) AS n, unnest(sg) AS g FROM sh) x
    JOIN (SELECT doc_id, len(sg) AS n, unnest(sg) AS g FROM sh) y
      ON x.g = y.g AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id, x.n, y.n
    HAVING count(*) * (1 + {t}) >= {t} * (x.n + y.n) - 1e-9) cand
  JOIN sh a ON a.doc_id = cand.ci JOIN sh b ON b.doc_id = cand.cj{where}"""


def narrow_pairs(sql):
    return ALL_PAIRS.sub(lambda m: SHARED_PAIRS.format(
        t=m.group(2), where=m.group(1)), sql)


def _expected(con, chk):
    if chk["check"] == "listing":
        params = {k: chk[k] for k in
                  ("bucket", "prefix", "delimiter", "marker", "max_keys")}
        return con.execute(LISTING_SQL, params).df()
    return con.execute(narrow_pairs(chk["sql"])).df()


def compare(got, want):
    """'' when equal, else a one-line description of the difference."""
    gc = [c.lower() for c in sorted(got.columns)]
    wc = [c.lower() for c in sorted(want.columns)]
    if gc != wc:
        return f"columns {gc} != {wc}"
    g, w = norm(got), norm(want)
    if g == w:
        return ""
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"{len(g)} vs {len(w)} rows; first diff at row {i}"
    return f"{len(g)} vs {len(w)} rows"


def _reference(con, chk, cache_dir, file_digests):
    """The answer `chk`'s result must equal, from the cache when the same
    inputs and query were answered before."""
    digest = hashlib.sha256(json.dumps(
        [_inputs_digest(chk["views"], file_digests),
         {k: v for k, v in chk.items()
          if k not in ("result", "key", "views")}],
        sort_keys=True).encode()).hexdigest()
    cached = os.path.join(cache_dir, f"{digest}.parquet")
    if os.path.exists(cached):
        return pd.read_parquet(cached)
    for stmt in _views_sql(chk["views"]):
        con.execute(stmt)
    want = _expected(con, chk)
    want.to_parquet(cached + ".tmp")
    os.replace(cached + ".tmp", cached)
    return want


def run_checks(run, cache_dir):
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    failed, file_digests = [], {}
    negative = None
    for chk in run["checks"]:
        try:
            got = pd.read_parquet(chk["result"])
            want = _reference(con, chk, cache_dir, file_digests)
            diff = compare(got, want)
        except Exception as e:  # a check that cannot run is a failure
            diff = f"check error: {str(e).splitlines()[0][:200]}"
        if diff:
            failed.append(chk["key"])
            print(f"perfbench: check {chk['key']} failed: {diff}",
                  file=sys.stderr)
        elif negative is None and len(got) > 0:
            # negative control: the same comparison on a copy of this
            # result with one row's first column altered
            bad = got.copy()
            col = bad.columns[0]
            bad[col] = bad[col].astype(object)
            bad.iloc[0, 0] = "__altered__"
            negative = {"check": chk["key"],
                        "reported_failed": compare(bad, want) != ""}
    return {"correct": not failed and negative is not None
            and negative["reported_failed"],
            "failed_checks": failed, "checked": len(run["checks"]),
            "negative_control": negative}
