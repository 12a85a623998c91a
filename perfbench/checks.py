"""Output checks for the benchmark workloads.

Every check recomputes the expected answer independently of the engine:
DuckDB SQL over the generated inputs (the engine's own DuckDB oracles where
the repository has them: OfflineMetricsOracle and CurationOracle), the
generator's ground truth, or a plain-Python union-find for the graph
results. Every iteration's outputs are checked, not only the first.
`check` returns a list of problems; any problem fails the run.
"""
import glob
import math
import os
from collections import defaultdict

import duckdb

TOL = 1e-9


def pct(xs, q):
    """Nearest-rank percentile (the JVM side uses the same rule)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def iteration_dirs(work):
    return sorted(d for d in glob.glob(os.path.join(work, "out", "*"))
                  if os.path.basename(d) != "final")


def text_lines(path):
    out = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            out += [ln.rstrip("\n") for ln in fh if ln.strip()]
    return out


def close(a, b, tol=TOL):
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


# --------------------------------------------------------------- reco_batch
# The live dashboard leg's stores are checked by check_store (below) against
# the generator's truth for the day's action log.
ITEM = "CAST(regexp_extract(props, '\"k\": (-?\\d+)', 1) AS BIGINT)"


def reco_expected(con):
    exp = {}
    auc = con.execute("""
      WITH base AS (SELECT user_id % 5 AS scene, user_id, value AS score,
                      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS label
                    FROM events WHERE event_type IN ('click', 'view')),
      rk AS (SELECT *, AVG(rn) OVER (PARTITION BY scene, score) AS frank
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY scene ORDER BY score) AS rn
                   FROM base)),
      a AS (SELECT scene, SUM(CASE WHEN label = 1 THEN frank ELSE 0 END) AS rs,
                   SUM(label) AS pos, SUM(1 - label) AS neg FROM rk GROUP BY scene),
      urk AS (SELECT *, AVG(rn) OVER (PARTITION BY scene, user_id, score) AS frank,
                   COUNT(*) OVER (PARTITION BY scene, user_id) AS show_n
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY scene, user_id ORDER BY score) AS rn
                    FROM base)),
      ua AS (SELECT scene, user_id, ANY_VALUE(show_n) AS show_n,
                    SUM(CASE WHEN label = 1 THEN frank ELSE 0 END) AS rs,
                    SUM(label) AS pos, SUM(1 - label) AS neg
             FROM urk GROUP BY scene, user_id),
      uauc AS (SELECT scene, SUM(show_n * ((rs - pos * (pos + 1) / 2) / (pos * neg)))
                               / SUM(show_n) AS uauc
               FROM ua WHERE pos > 0 AND neg > 0 GROUP BY scene)
      SELECT a.scene, (rs - pos * (pos + 1) / 2) / (pos * neg) AS auc, uauc.uauc
      FROM a LEFT JOIN uauc USING (scene) WHERE pos > 0 AND neg > 0""").fetchall()
    exp["auc"] = {int(s): (float(a), float(u or 0.0)) for s, a, u in auc}
    con.execute(f"""
      CREATE TEMP TABLE cos AS
      WITH inter AS (SELECT DISTINCT user_id, {ITEM} AS item, ts FROM events
                     WHERE event_type = 'click' AND {ITEM} IS NOT NULL),
      pos AS (SELECT user_id, item, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, item) AS p
              FROM inter),
      pairs AS (SELECT l.user_id, l.item AS a, r.item AS b, l.p AS i, r.p AS j,
                  CASE WHEN r.p - l.p <= 2 THEN 1.0
                       ELSE exp((2 - (r.p - l.p)) / 5.0) END AS score
                FROM pos l JOIN pos r ON l.user_id = r.user_id AND l.p < r.p
                  AND l.item <> r.item),
      em AS (SELECT a, b, score, MAX(score) OVER (PARTITION BY user_id, a, b ORDER BY i, j
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM pairs),
      s AS (SELECT a, b, SUM(score) AS s FROM em WHERE pm IS NULL OR score > pm GROUP BY a, b),
      w AS (SELECT least(a, b) AS x, greatest(a, b) AS y, SUM(s) AS tc FROM s GROUP BY 1, 2),
      wd AS (SELECT x AS a, y AS b, tc FROM w UNION ALL SELECT y AS a, x AS b, tc FROM w),
      cnt AS (SELECT item, COUNT(*) AS uc FROM (SELECT DISTINCT user_id, item FROM inter)
              GROUP BY item)
      SELECT wd.a, wd.b, tc / sqrt(ca.uc * cb.uc) AS score
      FROM wd JOIN cnt ca ON ca.item = wd.a JOIN cnt cb ON cb.item = wd.b""")
    exp["itemcf"] = {int(a): (float(h), int(n)) for a, h, n in con.execute(
        "SELECT a, MAX(score), COUNT(*) FROM cos GROUP BY a").fetchall()}
    edges = [400, 300, 200, 100, 90, 80, 70, 60, 50, 40, 30, 20, 10, 0]

    def hist(counts):
        h = defaultdict(int)
        for n in counts:
            h[next(f"{e}+" for e in edges if n >= e)] += 1
        return dict(h)
    exp["itemcf_hist"] = hist(n for _, n in exp["itemcf"].values())
    return exp


def check_toplists(lines, expected):
    """ItemCF top lists (`item_id2:score,...`): the head score and the
    length (capped at 400) of every item's list."""
    got = {}
    for ln in lines:
        a, rest = ln.split("_", 1)
        entries = rest.split(",")
        got[int(a)] = (float(entries[0].split(":", 1)[1]), len(entries))
    if set(got) != set(expected):
        return [f"itemcf top list: {len(got)} lists, expected {len(expected)}"]
    for a, (head, n) in expected.items():
        gh, gn = got[a]
        if gn != min(n, 400) or not close(gh, head):
            return [f"itemcf top list: item {a} head {gh} x{gn}, expected {head} x{min(n, 400)}"]
    return []


def check_reco(data, work, res):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
    exp = reco_expected(con)
    with open(os.path.join(work, "oracle", "offline.sql")) as f:
        offline = con.execute(f.read()).df().sort_values("scene").reset_index(drop=True)
    con.execute(f"CREATE VIEW truth AS SELECT * FROM '{data}/live_truth.parquet'")
    by_label = {it["label"]: it for it in res["iterations"]}
    probs, kept = [], []
    for d in iteration_dirs(work):
        it = os.path.basename(d)
        if not by_label.get(it, {}).get("ok"):
            continue  # already counted as a failed iteration
        extra = by_label[it]["extra"]
        p, k = check_store(con, f"{d}/live/stores", "live", extra, int(extra["parsed"]), it)
        probs += p
        if by_label[it]["phase"] == "traced":
            kept.append(k)
        got = {}
        for ln in text_lines(f"{d}/auc/aucAndUaucResult"):
            s, au = ln.split(",", 1)
            a, u = au.split("_")
            got[int(s)] = (float(a), float(u))
        if set(got) != set(exp["auc"]) or any(
                not close(got[s][0], v[0]) or not close(got[s][1], v[1])
                for s, v in exp["auc"].items()):
            probs.append(f"{it} auc/uauc {got} != {exp['auc']}")
        probs += [f"{it} {p}" for p in check_toplists(
            text_lines(f"{d}/itemcf/countStat"), exp["itemcf"])]
        h = {b: int(c) for b, c in (ln.split(",") for ln in text_lines(f"{d}/itemcf/quDuan"))}
        if h != exp["itemcf_hist"]:
            probs.append(f"{it} itemcf/quDuan {h} != {exp['itemcf_hist']}")
        store = con.execute(f"SELECT * FROM {pq(d + '/offline/metricstore')}").df()
        store = store.sort_values("scene").reset_index(drop=True)
        if len(store) != len(offline):
            probs.append(f"{it} metric store rows {len(store)} != {len(offline)}")
        else:
            for c in offline.columns:
                if c != "scene" and not all(close(float(x), float(y), 1e-12)
                                            for x, y in zip(store[c], offline[c])):
                    probs.append(f"{it} offline ratio {c} differs from the oracle")
        if len(text_lines(f"{d}/offline/allStatResult")) != len(offline):
            probs.append(f"{it} allStatResult rows != {len(offline)}")
        csv_users = con.execute(f"""SELECT COUNT(*) FROM read_csv('{d}/offline/actionUserId/*.csv',
            sep='/', header=false, columns={{'s': 'VARCHAR', 'u': 'VARCHAR'}})""").fetchone()[0]
        want_users = con.execute(
            "SELECT COUNT(*) FROM (SELECT DISTINCT user_id % 5, user_id FROM events)").fetchone()[0]
        if csv_users != want_users:
            probs.append(f"{it} day-cache CSV rows {csv_users} != {want_users}")
    return probs, drop_metrics(kept)


# --------------------------------------------------------- dashboard_stream
def check_store(con, store_root, truth_set, extra, parsed, it):
    """One replay's exact and sketch stores under `store_root` against the
    generator's truth for `truth_set`; also returns (lines, parser-kept,
    late-dropped) for the drop metrics."""
    probs = []
    t = f"(SELECT * FROM truth WHERE set = '{truth_set}')"
    hourly = f"""SELECT key, ts_ms - ts_ms % 3600000 AS w, COUNT(*) AS pv,
                   COUNT(DISTINCT user_id) AS uv FROM {t} WHERE status = 0 GROUP BY 1, 2"""
    daily = f"""SELECT key, ts_ms - (ts_ms + 28800000) % 86400000 AS w, COUNT(*) AS pv
                FROM {t} WHERE status = 0 GROUP BY 1, 2"""
    for store in ("exact", "sketch"):
        coarse = pq(f"{store_root}/{store}/coarse")
        for gran, want in (("1h", hourly), ("1d", daily)):
            n = con.execute(f"""
              WITH g AS (SELECT key, window_start_ms AS w, pv FROM {coarse}
                         WHERE granularity = '{gran}'),
              e AS (SELECT key, w, pv FROM ({want}))
              SELECT (SELECT COUNT(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM e))
                   + (SELECT COUNT(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM g))
            """).fetchone()[0]
            if n:
                probs.append(f"{it} {store} store {gran} PV: {n} rows differ from batch truth")
    worst = con.execute(f"""
      SELECT MAX(abs(g.uv - e.uv) / e.uv) FROM {pq(store_root + '/sketch/coarse')} g
      JOIN ({hourly}) e ON g.key = e.key AND g.window_start_ms = e.w
      WHERE g.granularity = '1h'""").fetchone()[0]
    if worst is None or worst > 0.05:
        probs.append(f"{it} sketch hourly UV relative error {worst} exceeds 5%")
    late, mal, total = con.execute(f"""SELECT SUM(CASE WHEN status = 2 THEN 1 ELSE 0 END),
        SUM(CASE WHEN status = 1 THEN 1 ELSE 0 END), COUNT(*) FROM {t}""").fetchone()
    # rows the stream accepted, per pipeline: the fine stores' PV totals
    acc = {s: int(con.execute(f"SELECT SUM(pv) FROM {pq(f'{store_root}/{s}/fine')}")
                  .fetchone()[0]) for s in ("exact", "sketch")}
    lines = {"exact": int(extra["input_rows"]), "sketch": int(extra["input_rows_sketch"])}
    for s in ("exact", "sketch"):
        if lines[s] != total:
            probs.append(f"{it} {s} read {lines[s]} lines, {total} were written")
        if parsed - acc[s] != late:
            probs.append(f"{it} {s} late drops {parsed - acc[s]} != generated beyond-grace rows {late}")
    if total - parsed != mal:
        probs.append(f"{it} parse drops {total - parsed} != malformed rows {mal}")
    return probs, (total, parsed, parsed - acc["exact"])


def check_dashboard(data, work, res):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW truth AS SELECT * FROM '{data}/truth.parquet'")
    probs, kept = [], []
    by_label = {it["label"]: it for it in res["iterations"]}
    for d in iteration_dirs(work):
        it = os.path.basename(d)
        if not by_label.get(it, {}).get("ok"):
            continue  # already counted as a failed iteration
        p, k = check_store(con, f"{d}/stores", "replay", by_label[it]["extra"],
                           int(res["check_data"]["parsed_replay"]), it)
        probs += p
        if by_label[it]["phase"] == "traced":
            kept.append(k)
    fin = res.get("finish", {})
    if fin:  # the traced run's fixed-rate phase
        p, _ = check_store(con, f"{work}/out/final/stores", "rate", fin,
                           int(res["check_data"]["parsed_rate"]), "fixed-rate")
        probs += p
    return probs, drop_metrics(kept)


def drop_metrics(kept):
    """Parse-keep ratio (with its base) and late drops of the traced
    iterations, from check_store's (lines, parser-kept, late-dropped)."""
    if not kept:
        return {}
    rows, parsed, late = (sum(k[i] for k in kept) / len(kept) for i in range(3))
    return {"sources.parse_keep_ratio": parsed / rows,
            "sources.parse_keep_ratio.num_rows": parsed,
            "sources.parse_keep_ratio.den_rows": rows,
            "streaming.late_dropped_rows": late}


# ---------------------------------------------------------- curation_corpus
def check_curation(data, work, res):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents.parquet'")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{data}/embeddings.parquet'")
    with open(os.path.join(work, "oracle", "curation.sql")) as f:
        con.execute("CREATE TEMP TABLE want AS SELECT doc_id, final_keep, drop_stage FROM ("
                    + f.read() + ")")
    probs = []
    for d in iteration_dirs(work):
        it = os.path.basename(d)
        n = con.execute(f"""
          WITH g AS (SELECT doc_id, final_keep, drop_stage FROM {pq(d + '/verdict')})
          SELECT (SELECT COUNT(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM want))
               + (SELECT COUNT(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM g))
        """).fetchone()[0]
        if n:
            probs.append(f"{it} curation verdict: {n} rows differ from the q96 oracle")
        lay = pq(d + "/layout")
        bad = con.execute(f"""
          WITH l AS (SELECT *, SUM(n_pieces) OVER (ORDER BY doc_id) AS want_cum FROM {lay})
          SELECT
            (SELECT COUNT(*) FROM l WHERE cum_pieces <> want_cum
               OR bin <> (cum_pieces - n_pieces) // 2048
               OR split NOT IN ('train', 'val', 'test')),
            (SELECT COUNT(*) FROM (SELECT doc_id FROM l EXCEPT
               SELECT doc_id FROM want WHERE final_keep)),
            (SELECT COUNT(*) FROM (SELECT doc_id FROM want WHERE final_keep EXCEPT
               SELECT doc_id FROM l)),
            (SELECT COUNT(*) - COUNT(DISTINCT shuffle_rank) FROM l)""").fetchone()
        if any(bad):
            probs.append(f"{it} training layout: bad rows/missing/extra/rank dups = {bad}")
    return probs, {}


# ---------------------------------------------------------- rank_past_bound
def union_find_min(edges, vertices):
    parent = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r
    for v in vertices:
        parent[v] = v
    for a, b in edges:
        parent.setdefault(a, a); parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def check_rank(data, work, res):
    con = duckdb.connect()
    con.execute(f"""CREATE TEMP TABLE inp AS SELECT id, g, item, v * w AS val
                    FROM '{data}/fact.parquet' JOIN '{data}/dim.parquet' USING (dk)""")
    con.execute("CREATE TEMP TABLE want_cum AS SELECT id, SUM(val) OVER (ORDER BY id) AS cum FROM inp")
    con.execute("""CREATE TEMP TABLE want_rank AS SELECT id, g,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY id) AS rank FROM inp""")
    kmv = {g: n for g, n in con.execute(
        "SELECT g, COUNT(DISTINCT item) FROM inp GROUP BY g").fetchall()}
    cc_edges = con.execute(f"SELECT src, dst FROM '{data}/cc_edges.parquet'").fetchall()
    verts = [r[0] for r in con.execute(f"SELECT id FROM '{data}/cc_vertices.parquet'").fetchall()]
    cc = union_find_min(cc_edges, verts)
    k = 256
    probs = []

    def diff(got, want, cols):
        return con.execute(f"""
          SELECT (SELECT COUNT(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL SELECT {cols} FROM {want}))
               + (SELECT COUNT(*) FROM (SELECT {cols} FROM {want} EXCEPT ALL SELECT {cols} FROM {got}))
        """).fetchone()[0]
    for d in iteration_dirs(work):
        it = os.path.basename(d)
        n = diff(pq(d + "/cumsum"), "want_cum", "id, cum")
        if n:
            probs.append(f"{it} globalCumSum: {n} rows differ from the DuckDB window sum")
        n = diff(pq(d + "/grouped_rank"), "want_rank", "id, g, rank")
        if n:
            probs.append(f"{it} groupedRankOrdered: {n} rows differ from row_number()")
        rows = con.execute(f"SELECT g, n_kept, estimate, n_exact FROM {pq(d + '/kmv')}").fetchall()
        bad = [r for r in rows if kmv.get(r[0]) != r[3] or r[1] != min(k, r[3])
               or (r[3] <= k and r[2] != r[3])
               or (r[3] > k and abs(r[2] - r[3]) > 5.0 / math.sqrt(k - 2) * r[3])]
        if bad or len(rows) != len(kmv):
            probs.append(f"{it} groupedKmvEstimate: {len(bad)} bad groups of {len(rows)}")
        got = dict(con.execute(f"SELECT id, comp FROM {pq(d + '/cc')}").fetchall())
        if got != cc:
            probs.append(f"{it} connectedComponents: {sum(got.get(v) != c for v, c in cc.items())}"
                         f" labels differ from union-find ({len(got)} vs {len(cc)} vertices)")
    return probs, {}


CHECKS = {"reco_batch": check_reco, "dashboard_stream": check_dashboard,
          "curation_corpus": check_curation, "rank_past_bound": check_rank}


def check(workload, data, work, res):
    """(problems, extra per-layer metrics) for one run's outputs."""
    try:
        probs, extra = CHECKS[workload](data, work, res)
    except Exception as e:  # a missing or unreadable output is a failure
        return [f"check raised {type(e).__name__}: {e}"], {}
    if not iteration_dirs(work):
        probs.append("no iteration outputs")
    return probs, extra
