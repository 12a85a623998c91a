"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of (seed, params): the same pair always
writes the same files. Inputs are cached under a directory keyed by both,
so generation never runs inside a timed region and runs once per seed.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Parameters per workload and size. "full" is what the benchmark measures;
# "tiny" is the smoke test's size. WORKLOADS.json records the "full" values.
PARAMS = {
    "reco_batch": {
        "full": dict(events=8000, users=400, items=3000, item_zipf=1.1,
                     user_zipf=1.0, days=7, live_files=2, live_rows_per_file=500,
                     malformed_share=0.02, ooo_share=0.05),
        "tiny": dict(events=6000, users=300, items=1000, item_zipf=1.1,
                     user_zipf=1.0, days=3, live_files=2, live_rows_per_file=100,
                     malformed_share=0.02, ooo_share=0.05),
    },
    "dashboard_stream": {
        "full": dict(replay_files=8, rate_files=6, rows_per_file=1000,
                     files_per_trigger=2, rate_files_per_s=0.13, users=2000,
                     malformed_share=0.02, late_share=0.01, ooo_share=0.05),
        "tiny": dict(replay_files=6, rate_files=6, rows_per_file=200,
                     files_per_trigger=2, rate_files_per_s=4.0, users=100,
                     malformed_share=0.02, late_share=0.01, ooo_share=0.05),
    },
    "curation_corpus": {
        "full": dict(docs=1200, embedded=500, near_dup_share=0.15,
                     exact_dup_share=0.02, sources=20),
        "tiny": dict(docs=200, embedded=80, near_dup_share=0.15,
                     exact_dup_share=0.02, sources=10),
    },
    "rank_past_bound": {
        "full": dict(rows=(1 << 16) + (1 << 12), groups=64, hot_share=0.5,
                     dim_rows=256, items=1 << 14, cc_edges=(1 << 12) + 256,
                     rank_cutover=1 << 15, graph_driver_below=1 << 11),
        "tiny": dict(rows=20000, groups=16, hot_share=0.5, dim_rows=64,
                     items=4096, cc_edges=3000,
                     rank_cutover=4096, graph_driver_below=1024),
    },
}

T0_MS = 1704067200000  # 2024-01-01T00:00:00Z


def params_for(workload, size):
    return dict(PARAMS[workload][size])


def data_dir(root, workload, seed, params):
    key = hashlib.sha256(json.dumps([workload, seed, params],
                                    sort_keys=True).encode()).hexdigest()[:12]
    return os.path.join(root, f"{workload}-s{seed}-{key}")


def ensure(root, workload, seed, params):
    """Generate (once) and return the input directory for (seed, params)."""
    d = data_dir(root, workload, seed, params)
    if os.path.exists(os.path.join(d, "_done")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    GENERATORS[workload](tmp, rng, params)
    with open(os.path.join(tmp, "_done"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "params": params}, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ---------------------------------------------------------------- reco_batch
def gen_reco(d, rng, p):
    n = p["events"]
    users = rng.choice(p["users"], size=n, p=zipf_weights(p["users"], p["user_zipf"]))
    # item ids are a seeded permutation of popularity ranks
    perm = rng.permutation(p["items"])
    items = perm[rng.choice(p["items"], size=n, p=zipf_weights(p["items"], p["item_zipf"]))]
    types = rng.choice(np.array(["view", "click", "purchase", "signup", "error"]),
                       size=n, p=[0.4, 0.2, 0.15, 0.1, 0.15])
    label = (types == "click").astype(float)
    value = np.round(rng.normal(50.0 + 8.0 * label, 15.0), 1)
    ts_us = (T0_MS * 1000 + rng.integers(0, p["days"] * 86400 * 10**6, size=n))
    order = np.argsort(ts_us, kind="stable")
    props = np.array([f'{{"k": {k}}}' for k in items[order]], dtype=object)
    t = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us[order], type=pa.timestamp("us")),
        "user_id": pa.array(users[order].astype(np.int64)),
        "event_type": pa.array(types[order]),
        "value": pa.array(value[order]),
        "props": pa.array(props, type=pa.string()),
    })
    pq.write_table(t, os.path.join(d, "events.parquet"), row_group_size=1 << 16)
    # the live dashboard's action log: read in one micro-batch, so it has
    # no beyond-grace rows (a batch drops late rows only against the
    # watermark of earlier batches)
    live = dict(rows_per_file=p["live_rows_per_file"], users=p["users"],
                malformed_share=p["malformed_share"], late_share=0.0,
                ooo_share=p["ooo_share"])
    truth = write_action_log(d, "live", p["live_files"], p["live_files"], live, rng)
    pq.write_table(pa.concat_tables(truth), os.path.join(d, "live_truth.parquet"))


# ---------------------------------------------------------- dashboard_stream
ACTIONS = np.array(["show", "click", "detailPageShow", "like", "share"])


def write_action_log(d, set_name, nfiles, clean_first, p, rng):
    """`nfiles` JSON action-log files under `d/set_name`, `rows_per_file`
    lines each (file k covers event minute k), and their ground truth:
    status 0 for an accepted row, 1 malformed, 2 beyond the grace period.
    Files before `clean_first` get no beyond-grace rows."""
    os.makedirs(os.path.join(d, set_name))
    # each set has its own event-time axis, starting 40 minutes before a
    # UTC+8 day boundary (16:00 UTC)
    t0 = T0_MS + 16 * 3600 * 1000 - 40 * 60 * 1000
    truth = []
    for k in range(nfiles):
        r = p["rows_per_file"]
        ts = t0 + k * 60000 + rng.integers(0, 60000, size=r)
        status = np.zeros(r, dtype=np.int8)
        u = rng.random(r)
        status[u < p["malformed_share"]] = 1
        if k >= clean_first:
            late = (u >= p["malformed_share"]) & \
                   (u < p["malformed_share"] + p["late_share"])
            status[late] = 2
            # beyond grace: two to three hours behind anything seen
            ts[late] = t0 - 7200000 - rng.integers(0, 3600000, size=late.sum())
        ooo = (status == 0) & (rng.random(r) < p["ooo_share"])
        ts[ooo] -= rng.integers(0, 120000, size=ooo.sum())  # inside grace
        users = rng.integers(0, p["users"], size=r)
        acts = rng.choice(ACTIONS, size=r, p=[0.5, 0.2, 0.15, 0.1, 0.05])
        scenes = rng.integers(0, 5, size=r)
        kinds = rng.integers(0, 3, size=r)
        lines = []
        for i in range(r):
            rec = {"sceneId": str(scenes[i]), "userId": f"u{users[i]}",
                   "itemId": f"i{rng.integers(0, 1000)}", "action": acts[i],
                   "contextExist": "1", "actionTime": str(int(ts[i]))}
            if status[i] == 1:
                if kinds[i] == 0:
                    line = json.dumps(rec)[: 25]            # truncated JSON
                elif kinds[i] == 1:
                    rec["contextExist"] = "0"               # no context
                    line = json.dumps(rec)
                else:
                    del rec["userId"]                       # no user
                    line = json.dumps(rec)
            else:
                line = json.dumps(rec)
            lines.append(line)
        with open(os.path.join(d, set_name, f"part-{k:05d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        truth.append(pa.table({
            "set": pa.array([set_name] * r), "file": pa.array(np.full(r, k)),
            "key": pa.array(acts), "ts_ms": pa.array(ts.astype(np.int64)),
            "user_id": pa.array([f"u{x}" for x in users]),
            "status": pa.array(status)}))
    return truth


def gen_dashboard(d, rng, p):
    # Beyond-grace rows go only into files the stream reads after its first
    # two micro-batches have committed: the engine drops a late row against
    # the watermark of the batch before, so a late row in batch 0 or 1
    # would be kept.
    truth = write_action_log(d, "replay", p["replay_files"],
                             2 * p["files_per_trigger"], p, rng)
    truth += write_action_log(d, "rate", p["rate_files"], 2, p, rng)
    pq.write_table(pa.concat_tables(truth), os.path.join(d, "truth.parquet"))


# ----------------------------------------------------------- curation_corpus
VOCAB = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "vector join customer the").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])


def gen_curation(d, rng, p):
    n, e = p["docs"], p["embedded"]
    texts, langs, srcs = [], [], []
    base_of = np.full(n, -1)
    for i in range(n):
        u = rng.random()
        if i > 10 and u < p["exact_dup_share"]:
            j = int(rng.integers(0, i)); base_of[i] = j
            texts.append(texts[j])
        elif i > 10 and u < p["exact_dup_share"] + p["near_dup_share"]:
            j = int(rng.integers(0, i)); base_of[i] = j
            w = texts[j].split()
            for _ in range(int(rng.integers(1, 3))):   # one or two token edits
                w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(w))
        else:
            ln = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), size=ln)))
        langs.append(LANGS[rng.choice(5, p=[0.4, 0.15, 0.15, 0.15, 0.15])])
        srcs.append(f"src{int(rng.integers(0, p['sources']))}")
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts), "lang": pa.array(langs),
        "source": pa.array(srcs),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(d, "documents.parquet"))
    centers = rng.normal(0, 1, size=(10, 64))
    labels = rng.integers(0, 10, size=e)
    vecs = np.zeros((e, 64))
    for i in range(e):
        b = base_of[i]
        if 0 <= b < i:   # near-dup variant: its base's vector plus small noise
            vecs[i] = vecs[b] + rng.normal(0, 0.02, size=64)
            labels[i] = labels[b]
        else:
            vecs[i] = centers[labels[i]] * 0.3 + rng.normal(0, 1, size=64)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(e, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), os.path.join(d, "embeddings.parquet"))


# ----------------------------------------------------------- rank_past_bound
def gen_rank(d, rng, p):
    """The shapes (group and cluster sizes) are the same for every seed;
    the seed draws the ids, the values and the row order, so runs on
    different seeds do the same amount of work."""
    n = p["rows"]
    hot = int(n * p["hot_share"])
    g = np.concatenate([np.zeros(hot, dtype=np.int32),
                        1 + np.arange(n - hot, dtype=np.int32) % (p["groups"] - 1)])
    pq.write_table(pa.table({
        "id": pa.array(rng.permutation(n).astype(np.int64) * 7 + 3),
        "g": pa.array(rng.permutation(g)),
        "dk": pa.array(rng.integers(0, p["dim_rows"], size=n).astype(np.int32)),
        "v": pa.array(rng.integers(1, 100, size=n).astype(np.int32)),
        "item": pa.array(rng.integers(0, p["items"], size=n).astype(np.int64)),
    }), os.path.join(d, "fact.parquet"), row_group_size=1 << 18)
    pq.write_table(pa.table({
        "dk": pa.array(np.arange(p["dim_rows"], dtype=np.int32)),
        "w": pa.array(rng.integers(1, 10, size=p["dim_rows"]).astype(np.int32)),
    }), os.path.join(d, "dim.parquet"))

    # undirected duplicate graph: star clusters of 2-12 members (diameter
    # 2), plus isolated vertices in the vertex table
    src, dst, v, c = [], [], 0, 0
    while len(src) < p["cc_edges"]:
        size = 2 + c % 11
        for m in range(1, size):
            src.append(v); dst.append(v + m)
        v += size; c += 1
    nv = v + v // 10
    ids = rng.permutation(nv).astype(np.int64)
    pq.write_table(pa.table({"src": pa.array(ids[np.array(src)]),
                             "dst": pa.array(ids[np.array(dst)])}),
                   os.path.join(d, "cc_edges.parquet"))
    pq.write_table(pa.table({"id": pa.array(np.sort(ids))}),
                   os.path.join(d, "cc_vertices.parquet"))


GENERATORS = {"reco_batch": gen_reco, "dashboard_stream": gen_dashboard,
              "curation_corpus": gen_curation, "rank_past_bound": gen_rank}


WHY = {
    "reco_batch": "the reference's daily traffic: shuffle- and window-heavy "
                  "nightly jobs (BoardStats left out to fit the run-time "
                  "budget) with text, CSV and metric-store writes, then the "
                  "live dashboard's replay of the day's action log; no llm",
    "rank_past_bound": "the only workload that times the adaptive devices' "
                       "at-scale branches (ops distributed side, Dedup CC); "
                       "Graph SCC left out to fit the run-time budget",
    "curation_corpus": "carries the llm layer (with codegen functions inside) "
                       "and runs the ops cutover devices below their bounds",
    "dashboard_stream": "the reference's central workload: streaming state "
                        "plus read-modify-write metric-store sinks",
}


def fan_out(d):
    """Clicks of the heaviest user and the per-user ordered click pairs
    (sum of L(L-1)/2) that ItemCF's pair stage fans out to."""
    t = pq.read_table(os.path.join(d, "events.parquet"), columns=["user_id", "event_type"])
    users = t.column("user_id").to_numpy()[t.column("event_type").to_numpy(
        zero_copy_only=False) == "click"]
    per_user = np.unique(users, return_counts=True)[1]
    return {"clicks": int(per_user.sum()), "max_user_clicks": int(per_user.max()),
            "click_pairs": int((per_user * (per_user - 1) // 2).sum())}


def describe(root, seeds=(1, 2)):
    """Per workload: why it exists, its traffic parameters, and for each
    seed the rows and bytes of every generated input file."""
    out = {}
    for w in GENERATORS:
        p = params_for(w, "full")
        rec = {"why": WHY[w], "params": p, "seeds": {}}
        for seed in seeds:
            d = ensure(root, w, seed, p)
            files = {}
            for dirpath, _, names in sorted(os.walk(d)):
                for n in sorted(names):
                    f = os.path.join(dirpath, n)
                    if n.endswith(".parquet"):
                        rows = pq.ParquetFile(f).metadata.num_rows
                    elif n.endswith(".json") and n != "_done":
                        with open(f) as fh:
                            rows = sum(1 for _ in fh)
                    else:
                        continue
                    key = os.path.relpath(f, d)
                    key = key.split("/")[0] + "/*.json" if n.endswith(".json") else key
                    r, b = files.get(key, (0, 0))
                    files[key] = (r + rows, b + os.path.getsize(f))
            rec["seeds"][str(seed)] = {k: {"rows": r, "bytes": b} for k, (r, b) in files.items()}
            if w == "reco_batch":
                rec["seeds"][str(seed)]["fan_out"] = fan_out(d)
        out[w] = rec
    return out


if __name__ == "__main__":
    # python3 perfbench/gen.py > perfbench/WORKLOADS.json
    import sys
    json.dump(describe(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")),
              sys.stdout, indent=2)
    sys.stdout.write("\n")
