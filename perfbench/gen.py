"""Seeded input generators for the benchmark workloads.

Everything a workload reads is made here from its seed, so the same seed
gives byte-identical inputs. Outputs are cached per (workload, seed) under
the benchmark's work directory; a cache entry is only used once its
`_DONE` marker exists, so an interrupted generation is redone.

* Change streams (cdc_catchup): four watched collections with skewed
  shares, the reference op mix with ~20 % non-publishable ops, Mongo-like
  document payloads of a few hundred bytes with a tail to a few KB,
  resume tokens in token order and an invalidate terminator per
  collection. Files are written under a dot-temp name, then renamed.
* Corpus (curation_small): the `documents` / `embeddings` schemas of the
  repository's testdata (n_chars == length(text), the lang/source
  domains), with near-duplicate edited copies, a boilerplate span shared
  by a few percent of documents, and clustered labelled embeddings.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The watched collections of cdc_catchup and their backlog shares.
COLLECTIONS = [("shop", "orders", 0.55), ("shop", "customers", 0.25),
               ("crm", "tickets", 0.12), ("crm", "agents", 0.08)]
# insert/update/replace/delete ~20 % each, ~20 % skipped ops (F1).
OPS = ["insert", "update", "replace", "delete", "drop", "rename",
       "dropDatabase"]
OP_P = [0.22, 0.22, 0.16, 0.20, 0.08, 0.07, 0.05]
PUBLISHABLE = {"insert", "update", "replace", "delete"}
ROWS_PER_FILE = 2000

LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DIM = 64
N_LABELS = 10

EVENT_SCHEMA = pa.schema([
    ("_id", pa.struct([("_data", pa.string())])),
    ("operationType", pa.string()),
    ("clusterTime", pa.timestamp("us", tz="UTC")),
    ("wallTime", pa.timestamp("us", tz="UTC")),
    ("ns", pa.struct([("db", pa.string()), ("coll", pa.string())])),
    ("documentKey", pa.string()),
    ("fullDocument", pa.string()),
    ("fullDocumentBeforeChange", pa.string()),
    ("updateDescription", pa.string()),
])


def write_atomic(table, path, **kw):
    """Write a parquet file under a dot-temp name, then rename it."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp, **kw)
    os.replace(tmp, path)


def _words(rng, n):
    # a Zipf-ish vocabulary of pronounceable ASCII words
    sy = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "da",
          "ri", "mo", "xa", "be", "fu"]
    out = set()
    while len(out) < n:
        k = int(rng.integers(1, 4))
        out.add("".join(sy[int(i)] for i in rng.integers(0, len(sy), k)))
    return sorted(out)


# ---------------------------------------------------------------- CDC

def _document(rng, oid, vocab, version):
    """A Mongo-like document: a few hundred bytes, lognormal tail."""
    n_tags = int(rng.integers(1, 5))
    note_words = int(min(1200, rng.lognormal(3.3, 0.9)))
    doc = {
        "_id": {"$oid": oid},
        "version": version,
        "status": ["new", "open", "paid", "shipped", "closed"][
            int(rng.integers(0, 5))],
        "amount": {"$numberDecimal": "%d.%02d" % (rng.integers(0, 5000),
                                                   rng.integers(0, 100))},
        "tags": [vocab[int(i)] for i in rng.integers(0, len(vocab), n_tags)],
        "address": {"city": vocab[int(rng.integers(0, len(vocab)))],
                    "zip": "%05d" % rng.integers(0, 99999)},
        "note": " ".join(vocab[int(i)]
                         for i in rng.integers(0, len(vocab), note_words)),
    }
    return json.dumps(doc, separators=(",", ":"))


def gen_cdc(out, seed, total_events):
    """Stage a backlog per collection; write the expected outputs."""
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 400)
    t0_us = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
    expected = {}
    seq = 0
    for ci, (db, coll, share) in enumerate(COLLECTIONS):
        n = max(10, int(round(total_events * share)))
        ops = rng.choice(OPS, size=n, p=OP_P)
        live = {}  # documentKey oid -> version
        rows = {k: [] for k in EVENT_SCHEMA.names}
        publish = []
        for i in range(n):
            seq += 1
            op = str(ops[i])
            # resume token: fixed-width hex of (time, collection, seq) —
            # lexicographic order is creation order within a collection
            ts_us = t0_us + seq * 1000
            token = "82%014X%02X%010X" % (ts_us // 1_000_000, ci, seq)
            if op == "insert" or not live:
                oid = "%024x" % ((ci << 80) | seq)
                version = 0
            else:
                oid = list(live)[int(rng.integers(0, len(live)))]
                version = live[oid] + 1
            key = json.dumps({"_id": {"$oid": oid}}, separators=(",", ":"))
            full = before = upd = None
            if op in ("insert", "update", "replace"):
                full = _document(rng, oid, vocab, version)
                live[oid] = version
                if len(live) > 256:
                    live.pop(next(iter(live)))
            if op in ("update", "replace", "delete") and version > 0:
                before = _document(rng, oid, vocab, version - 1)
            if op == "update":
                upd = json.dumps({"updatedFields": {"version": version},
                                  "removedFields": []},
                                 separators=(",", ":"))
            if op == "delete":
                live.pop(oid, None)
            if op in PUBLISHABLE:
                publish.append("%s\t%s.%s" % (token, coll.upper(), op))
            rows["_id"].append({"_data": token})
            rows["operationType"].append(op)
            rows["clusterTime"].append(ts_us)
            rows["wallTime"].append(ts_us)
            rows["ns"].append({"db": db, "coll": coll})
            rows["documentKey"].append(key)
            rows["fullDocument"].append(full)
            rows["fullDocumentBeforeChange"].append(before)
            rows["updateDescription"].append(upd)
        # F2 terminator: the stream ends with an invalidate
        seq += 1
        ts_us = t0_us + seq * 1000
        inv = "82%014X%02X%010X" % (ts_us // 1_000_000, ci, seq)
        for k, v in (("_id", {"_data": inv}), ("operationType", "invalidate"),
                     ("clusterTime", ts_us), ("wallTime", ts_us),
                     ("ns", {"db": db, "coll": coll}), ("documentKey", None),
                     ("fullDocument", None), ("fullDocumentBeforeChange", None),
                     ("updateDescription", None)):
            rows[k].append(v)
        table = pa.Table.from_pydict(rows, schema=EVENT_SCHEMA)
        d = os.path.join(out, "backlog", db, coll, "changes")
        os.makedirs(d, exist_ok=True)
        for fi, start in enumerate(range(0, table.num_rows, ROWS_PER_FILE)):
            write_atomic(table.slice(start, ROWS_PER_FILE),
                         os.path.join(d, "part-%05d.parquet" % fi))
        expected["%s.%s" % (db, coll)] = {
            "db": db, "coll": coll, "stream": coll.upper(),
            "events": n + 1, "published": len(publish),
            "last_token": publish[-1].split("\t")[0] if publish else ""}
        # the generator's truth: one "token<TAB>subject" line per event
        # the connector must publish, in token order
        with open(os.path.join(out, "expected-%s.%s.tsv" % (db, coll)),
                  "w") as fh:
            fh.write("\n".join(publish) + "\n")
    with open(os.path.join(out, "collections.tsv"), "w") as fh:
        for e in expected.values():
            fh.write("%(db)s\t%(coll)s\t%(stream)s\t%(events)d\t"
                     "%(published)d\t%(last_token)s\n" % e)
    return expected


# ------------------------------------------------------------- corpus

def gen_corpus(out, seed, n_docs, n_vecs):
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 300)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    boiler = " ".join(_words(np.random.default_rng(seed + 1), 12))
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.30:
            # near-duplicate: an edited copy of an earlier document
            src = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                j = int(rng.integers(0, len(src)))
                src[j] = vocab[int(rng.choice(len(vocab), p=zipf))]
            words = src
        else:
            k = int(rng.integers(10, 101))
            words = [vocab[int(j)] for j in rng.choice(len(vocab), k, p=zipf)]
        if rng.random() < 0.04:
            at = int(rng.integers(0, len(words) + 1))
            words = words[:at] + boiler.split(" ") + words[at:]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array(["src%d" % (i % N_SOURCES)
                            for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(size=(N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vecs)
    x = centers[labels] + rng.normal(scale=0.35, size=(n_vecs, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    d = os.path.join(out, "corpus")
    os.makedirs(d, exist_ok=True)
    # one file, one row group: the shape of the shipped testdata
    write_atomic(docs, os.path.join(d, "documents.parquet"),
                 row_group_size=n_docs)
    write_atomic(embs, os.path.join(d, "embeddings.parquet"),
                 row_group_size=n_vecs)
    return {"documents": n_docs, "embeddings": n_vecs}


def generate(out, workload, seed, params):
    """Generate (or reuse) the inputs of one workload and seed.

    Every workload also gets a probe set (a small backlog and a small
    corpus) for the layer probes of a traced run, so each traced run
    measures every layer.
    """
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        with open(done) as fh:
            return json.load(fh), False
    shutil.rmtree(out, ignore_errors=True)  # what an interrupted run left
    os.makedirs(out)
    if workload == "cdc_catchup":
        meta = {"collections": gen_cdc(out, seed, params["events"])}
    else:
        meta = gen_corpus(out, seed, params["docs"], params["vecs"])
    gen_cdc(os.path.join(out, "probe"), seed + 2, params["probe_events"])
    gen_corpus(os.path.join(out, "probe"), seed + 3, params["probe_docs"],
               params["probe_vecs"])
    with open(done + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(done + ".tmp", done)
    return meta, True
