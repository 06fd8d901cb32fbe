"""Output checks of a run, made with DuckDB outside the timed window.

- Every workload: the star schema a load wrote is compared with the
  generator's manifest: rows per table, the first-wins survivor of each
  duplicated id, and the fan-out histograms.
- `star`: each operator's result (one call with a recorded parameter,
  written as parquet) must equal, as a multiset of rows, what an oracle
  SQL query computes over the same parquet tables.
- `suite`: every timed call of an oracle-bearing entry must count as
  many rows as the entry's oracle SQL (`SparkEntry.oracleSql`) returns
  in DuckDB over the same tables; the counts are computed once per
  source and data state (`oracle_counts`).

Each check returns {"name", "ok", "detail"}; a check that raises counts
as failed.
"""
import duckdb

SURVIVOR_COLUMN = {"releases": ("release", "title"), "artists": ("artist", "name"),
                   "labels": ("label", "name"), "masters": ("master", "title")}

RELEASED_DATE = r"""
  CASE WHEN regexp_extract(released, '^(\d{4})', 1) = '' THEN NULL
  ELSE make_date(
    CAST(regexp_extract(released, '^(\d{4})', 1) AS INTEGER),
    CASE WHEN regexp_extract(released, '^\d{4}-(\d{2})', 1) IN ('', '00') THEN 1
      ELSE CAST(regexp_extract(released, '^\d{4}-(\d{2})', 1) AS INTEGER) END,
    CASE WHEN regexp_extract(released, '^\d{4}-\d{2}-(\d{2})', 1) IN ('', '00') THEN 1
      ELSE CAST(regexp_extract(released, '^\d{4}-\d{2}-(\d{2})', 1) AS INTEGER) END)
  END"""


def oracle_sql(op, params):
    """DuckDB text of one operator over views named after the 7 tables."""
    if op == "releaseById":
        return f"SELECT * FROM release WHERE id = {int(params['id'])}"
    if op == "searchTitles":
        needle = params["needle"].lower().replace("'", "''")
        return f"SELECT id, title, country FROM release WHERE contains(lower(title), '{needle}')"
    if op == "latestReleases":
        return f"""SELECT id, title, released, {RELEASED_DATE} AS released_date
                   FROM release ORDER BY released_date DESC NULLS LAST, id LIMIT 10"""
    if op == "releaseWithLabels":
        return """SELECT r.id, r.title, rl.label, rl.catno, rl.label_id
                  FROM release r JOIN release_label rl ON r.id = rl.release_id"""
    if op == "releaseWithVideos":
        return """SELECT r.id, r.title, rv.src, rv.duration, rv.title AS video_title
                  FROM release r JOIN release_video rv ON r.id = rv.release_id"""
    if op == "releaseLabelDim":
        return """SELECT rl.release_id, l.id AS label_id, l.name AS label_name, rl.catno,
                         l.data_quality
                  FROM release_label rl JOIN label l ON rl.label_id = l.id"""
    if op == "releaseMasterArtists":
        return """SELECT r.id AS release_id, r.title, m.id AS master_id, a.id AS artist_id,
                         a.name AS artist_name, ma.role
                  FROM release r JOIN master m ON r.master_id = m.id
                  JOIN master_artist ma ON m.id = ma.master_id
                  JOIN artist a ON ma.artist_id = a.id
                  WHERE r.master_id <> 0"""
    if op == "releasesPerGenre":
        return """SELECT genre, COUNT(*) AS n_releases
                  FROM (SELECT unnest(genres) AS genre FROM release) GROUP BY genre"""
    if op == "genreCooccurrence":
        return """WITH e AS (SELECT id, unnest(genres) AS g FROM release)
                  SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS n_releases
                  FROM e a JOIN e b ON a.id = b.id AND a.g < b.g GROUP BY 1, 2"""
    if op == "labelCatalogStats":
        return """SELECT label_id, label, COUNT(*) AS n_rows,
                         COUNT(DISTINCT release_id) AS n_releases,
                         COUNT(DISTINCT catno) AS n_catnos
                  FROM release_label GROUP BY label_id, label"""
    if op == "distinctCreditedArtists":
        return "SELECT COUNT(DISTINCT artist_id) AS n_artists FROM master_artist"
    if op == "topReleasesPerLabel":
        return f"""WITH j AS (
                     SELECT rl.label_id, r.id, r.title, {RELEASED_DATE} AS released_date
                     FROM release r JOIN release_label rl ON r.id = rl.release_id)
                   SELECT label_id, rk, id, title, released_date FROM (
                     SELECT *, row_number() OVER (PARTITION BY label_id
                       ORDER BY released_date DESC NULLS LAST, id) AS rk FROM j)
                   WHERE rk <= 3"""
    if op == "nearDuplicateArtists":
        # Exact for names of 9+ characters: two strings within edit
        # distance 2 share at least max(len) - 8 trigrams, so every
        # qualifying pair shares one (checked in nearDuplicateArtists).
        return """WITH p AS (SELECT id, name, unnest(range(1, length(name) - 1)) AS i FROM artist),
                  g AS (SELECT DISTINCT id, substring(name, i, 3) AS gram FROM p),
                  c AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
                        FROM g x JOIN g y ON x.gram = y.gram AND x.id < y.id)
                  SELECT c.id_a, a.name AS name_a, c.id_b, b.name AS name_b,
                         levenshtein(a.name, b.name) AS dist
                  FROM c JOIN artist a ON a.id = c.id_a JOIN artist b ON b.id = c.id_b
                  WHERE abs(length(a.name) - length(b.name)) <= 2
                    AND levenshtein(a.name, b.name) <= 2"""
    raise KeyError(op)


def _views(con, star_dir):
    for t in ("release", "release_label", "release_video", "artist", "label",
              "master", "master_artist"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{star_dir}/{t}/*.parquet')")


def _check(out, name, fn):
    try:
        ok, detail = fn()
    except Exception as e:  # a check that cannot run has failed
        ok, detail = False, f"{type(e).__name__}: {e}"
    out.append({"name": name, "ok": bool(ok), "detail": detail})


def manifest_checks(con, manifest, out):
    tables = manifest["tables"]
    for t, n in tables.items():
        _check(out, f"rows.{t}", lambda t=t, n=n: (
            lambda got: (got == n, {"expected": n, "got": got}))(
                con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]))
    for entity, pairs in manifest["survivors"].items():
        table, column = SURVIVOR_COLUMN[entity]

        def survivors(table=table, column=column, pairs=pairs):
            want = {int(i): v for i, v in pairs}
            if not want:
                return True, {"duplicated_ids": 0}
            ids = ",".join(str(i) for i in want)
            got = dict(con.execute(
                f"SELECT id, {column} FROM {table} WHERE id IN ({ids})").fetchall())
            bad = [i for i in want if got.get(i) != want[i]]
            return not bad, {"duplicated_ids": len(want), "wrong": bad[:5]}
        _check(out, f"first_wins.{table}", survivors)
    fan_sql = {
        "release_label": "SELECT release_id AS k, COUNT(*) AS c FROM release_label GROUP BY 1",
        "master_artist": "SELECT master_id AS k, COUNT(*) AS c FROM master_artist GROUP BY 1",
        "release_video": """SELECT r.id AS k, COUNT(v.release_id) AS c FROM release r
                            LEFT JOIN release_video v ON v.release_id = r.id GROUP BY 1""",
    }
    for t, sql in fan_sql.items():
        want = {str(k): v for k, v in manifest["fanout"][t].items()}

        def fan(sql=sql, want=want):
            got = {str(k): v for k, v in con.execute(
                f"SELECT c, COUNT(*) FROM ({sql}) GROUP BY 1").fetchall()}
            return got == want, {"expected": want, "got": got}
        _check(out, f"fanout.{t}", fan)


def star_checks(con, results, out):
    for op, res in results.items():
        path = res["path"]

        def compare(op=op, path=path, params=res["params"]):
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS "
                        f"SELECT * FROM read_parquet('{path}/*.parquet')")
            if op == "nearDuplicateArtists":
                short = con.execute("SELECT COUNT(*) FROM artist WHERE length(name) < 9").fetchone()[0]
                if short:
                    return False, f"{short} artist names shorter than the oracle's 9"
            con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {oracle_sql(op, params)}")
            if op == "distinctCreditedArtists":
                exact, approx = con.execute("SELECT n_artists, n_artists_approx FROM s").fetchone()
                want = con.execute("SELECT n_artists FROM o").fetchone()[0]
                ok = exact == want and abs(approx - want) <= 0.05 * want
                return ok, {"expected": want, "exact": exact, "approx": approx}
            ns = con.execute("SELECT COUNT(*) FROM s").fetchone()[0]
            no = con.execute("SELECT COUNT(*) FROM o").fetchone()[0]
            extra = con.execute(
                "SELECT COUNT(*) FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM o)").fetchone()[0]
            missing = con.execute(
                "SELECT COUNT(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM s)").fetchone()[0]
            return (ns == no and extra == 0 and missing == 0 and ns > 0,
                    {"rows": ns, "oracle_rows": no, "extra": extra, "missing": missing})
        _check(out, f"oracle.{op}", compare)


def connect():
    """A DuckDB connection that prints nothing: the result line must be
    the last line of stdout."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


SUITE_TABLES = ("region nation customer supplier part orders lineitem events "
                "documents embeddings").split()


def oracle_counts(oracles, data_dir):
    """Rows each oracle SQL returns over the suite's tables: entry ->
    count. An oracle that reads files by path (outside the tables here)
    is left out; so is one DuckDB cannot run, with its error."""
    counts = {}
    con = connect()
    try:
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for name, sql in sorted(oracles.items()):
            if "read_parquet(" in sql:
                continue
            try:
                counts[name] = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
            except duckdb.Error as e:
                counts[name] = f"{type(e).__name__}: {e}"
    finally:
        con.close()
    return counts


def suite_checks(ops, counts, out):
    rows = {}
    for o in ops:
        if o["status"] == "ok":
            rows.setdefault(o["name"], []).append(o["rows"])
    for name, got in sorted(rows.items()):
        if name in counts:
            want = counts[name]
            out.append({"name": f"oracle_rows.{name}",
                        "ok": all(g == want for g in got),
                        "detail": {"expected": want, "got": sorted(set(got))}})


def run(rec, oracle_rows=None):
    """All DuckDB checks of one run record."""
    out = []
    if rec["workload"] == "suite":
        suite_checks(rec["ops"], oracle_rows, out)
        return out
    con = connect()
    con.execute("SET threads TO 2")
    try:
        _views(con, rec["out_dir"])
        manifest_checks(con, rec["manifest"], out)
        if rec["workload"] == "load":
            for t, n in rec["manifest"]["tables"].items():
                got = rec.get("copy_rows", {}).get(t, -1)
                out.append({"name": f"copy_rows.{t}", "ok": got == n,
                            "detail": {"expected": n, "got": got}})
        else:
            star_checks(con, rec.get("star_results", {}), out)
    finally:
        con.close()
    return out
