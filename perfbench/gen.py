"""Seeded input generator for the graft benchmark.

Every input a workload reads is made here, from the seed alone, before any
timing starts. The same seed gives byte-identical files; a different seed
gives different ones.

* ``tables``: the ten star-schema / events / documents / embeddings tables
  the `medallion` and `curation` gates read, in the column layout the gates
  expect (TPC-H-ish ``region nation customer supplier part orders lineitem``
  plus ``events``, ``documents`` and ``embeddings``), at a chosen scale.
* ``serve``: the request stream of the `serve` workload -- dirty inbox files
  (CSV, TSV, JSONL with BOM, Windows-1252, overflow-shifted rows and
  repairable malformed JSONL lines), dedup batches with planted exact and
  near copies, clustered ANN corpus and query vectors, an events table and
  seeded lookup predicates -- plus the planted truth every reply is checked
  against.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMB_DIM = 64

# Day offsets of the orders / lineitem date ranges (1995-01-01 + n days).
ORDER_DAYS = 2404
SHIP_DAYS = 2499
EPOCH_1995_US = 788918400 * 1_000_000
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def rng_for(seed, stream):
    """An independent generator per (seed, stream name), so adding a stream
    never shifts the values of another."""
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(key))


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, n, near_share=0.05):
    """Random texts over the 30-word vocabulary; a share of them are near
    copies of another document (its text plus the marker word ``dup``)."""
    lens = rng.integers(10, 100, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k))
             for k in lens]
    for i in np.flatnonzero(rng.random(n) < near_share):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def unit_vectors(rng, n, dim=EMB_DIM):
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def emb_column(vecs):
    return pa.array([row for row in vecs.tolist()], type=pa.list_(pa.float32()))


def tables(out, seed, sf=0.01, n_docs=500, n_emb=500):
    """Write the ten gate input tables for scale `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, n_cust // 10)

    write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    write_parquet(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    r = rng_for(seed, "customer")
    write_parquet(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")

    r = rng_for(seed, "supplier")
    write_parquet(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(r, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")

    r = rng_for(seed, "part")
    write_parquet(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n_part)]}),
        f"{out}/part.parquet")

    r = rng_for(seed, "orders")
    odays = r.integers(0, ORDER_DAYS, n_ord)
    write_parquet(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": cents(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(EPOCH_1995_US + odays * DAY_US, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    r = rng_for(seed, "lineitem")
    sdays = r.integers(1, SHIP_DAYS, n_li)
    write_parquet(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": cents(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(EPOCH_1995_US + sdays * DAY_US, pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")

    write_parquet(events_table(rng_for(seed, "events"), n_ev, n_users),
                  f"{out}/events.parquet")

    r = rng_for(seed, "documents")
    texts = doc_texts(r, n_docs)
    write_parquet(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    r = rng_for(seed, "embeddings")
    write_parquet(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": emb_column(unit_vectors(r, n_emb)),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


def events_table(r, n, n_users):
    ts = np.sort(r.integers(0, 30 * DAY_US, n)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": cents(r, 0.01, 490.0, n),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


# ---------------------------------------------------------------- serve

OPS = ["ingest_file", "dedup_admit", "ann_topk", "lake_lookup"]
SERVE_CORPUS_DOCS = 300
SERVE_BATCH_DOCS = 20
ANN_CORPUS = 1000
ANN_CLUSTERS = 32
ANN_QUERIES = 4
LOOKUP_EVENTS = 10000
LOOKUP_USERS = 400


def shingles(text, n=3):
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b, n=3):
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def near_copy(rng, text):
    """A near copy: one token replaced near the end and one appended, so the
    trigram Jaccard stays well above 0.5 for texts of 30+ tokens."""
    toks = text.split(" ")
    i = len(toks) - 1 - int(rng.integers(0, 3))
    toks[i] = "zz" + str(int(rng.integers(0, 1000)))
    return " ".join(toks + ["dup"])


def fresh_text(rng, uniq):
    """A document unlike any other: every third token is a unique marker, so
    no trigram it holds can occur in another document."""
    toks = []
    for j in range(int(rng.integers(30, 60))):
        toks.append(f"u{uniq}x{j}" if j % 3 == 0 else WORDS[int(rng.integers(0, len(WORDS)))])
    return " ".join(toks)


def exact_top_k(corpus_unit, q, qid, k=10):
    """Exact cosine top-k ids; like the index serve, never the query's own id."""
    qn = q.astype(np.float64) / np.linalg.norm(q.astype(np.float64))
    cos = corpus_unit @ qn
    cos[qid] = -np.inf
    order = np.lexsort((np.arange(len(cos)), -cos))
    return [int(i) for i in order[:k]]


def dirty_file(rng, i):
    """One dirty inbox file and its planted truth (loaded / quarantined
    rows). Returns (name, bytes, truth)."""
    fmt = ("csv", "tsv", "jsonl")[i % 3]
    n = 80
    names = ["user id", "First Name", "Age", "City", "Score"]
    cities = ["Paris", "Köln", "Zürich", "São Paulo", "Montréal", "Oslo"]
    rows = []
    for r in range(n):
        age = str(int(rng.integers(18, 90)))
        if rng.random() < 0.1:
            age = ("N/A", "null", "", "-")[int(rng.integers(0, 4))]
        name = ("  " if rng.random() < 0.3 else "") + \
            ["alice", "BOB", "Carol", "dave", "Eve"][int(rng.integers(0, 5))] + f"{i}_{r}"
        rows.append([str(r + 1), name, age, cities[int(rng.integers(0, 6))],
                     f"{rng.uniform(0, 100):.2f}"])
    shifted = 0
    if fmt == "jsonl":
        lines = []
        for r, row in enumerate(rows):
            obj = json.dumps(dict(zip(names, row)), ensure_ascii=False)
            if r % 17 == 5:  # repairable: trailing comma before the brace
                obj = obj[:-1] + ",}"
            lines.append(obj)
        text = "\n".join(lines) + "\n"
    else:
        sep = "," if fmt == "csv" else "\t"
        out = [sep.join(names)]
        for r, row in enumerate(rows):
            line = sep.join(row)
            if r > 5 and r % 23 == 7:  # an unquoted separator spills a column
                line = sep.join(row[:4]) + sep + "messy" + sep + " extra"
                shifted += 1
            out.append(line)
        text = "\n".join(out) + "\n"
    enc = ("utf-8-sig", "cp1252", "utf-8")[(i // 3) % 3]
    data = text.encode(enc, errors="replace")
    return f"f{i:04d}.{fmt}", data, {"loaded": n - shifted, "quarantined": shifted}


def serve(out, seed, n_ops=400):
    """Write the serve workload's inputs and planted truth into `out`.

    Ops come in blocks of four, one of each type in seed-shuffled order, so
    the four types run in equal shares. Every fifth `ingest_file` op also
    re-delivers an already-loaded file, which must take the skip path. The
    planted truth rides with each op: ingest row counts, dedup verdicts, the
    exact top-k of each ANN query and the groups each lookup must return."""
    os.makedirs(out, exist_ok=True)
    r = rng_for(seed, "serve-order")
    blocks = n_ops // len(OPS)
    order = [OPS[j] for _ in range(blocks) for j in r.permutation(len(OPS))]

    # dedup: a corpus the index is built over, then batches against it
    r = rng_for(seed, "serve-corpus")
    corpus = [fresh_text(r, f"c{i}") for i in range(SERVE_CORPUS_DOCS)]
    write_parquet(pa.table({"doc_id": pa.array(range(SERVE_CORPUS_DOCS), pa.int64()),
                            "text": corpus}), f"{out}/dedup_corpus.parquet")

    r = rng_for(seed, "serve-files")
    r_b = rng_for(seed, "serve-batches")
    r_q = rng_for(seed, "serve-ann")
    r_l = rng_for(seed, "serve-lookup")
    os.makedirs(f"{out}/inbox", exist_ok=True)

    # ANN corpus: clustered unit vectors; queries near cluster centres
    centres = unit_vectors(r_q, ANN_CLUSTERS)
    member = r_q.integers(0, ANN_CLUSTERS, ANN_CORPUS)
    ann = centres[member] + 0.0625 * r_q.standard_normal((ANN_CORPUS, EMB_DIM)).astype(np.float32)
    ann = (ann / np.linalg.norm(ann, axis=1, keepdims=True)).astype(np.float32)
    write_parquet(pa.table({
        "vec_id": pa.array(range(ANN_CORPUS), pa.int64()),
        "embedding": emb_column(ann),
        "label": pa.array(member, pa.int32())}), f"{out}/ann_corpus.parquet")

    n_users = LOOKUP_USERS
    ev = events_table(r_l, LOOKUP_EVENTS, n_users)
    write_parquet(ev, f"{out}/lookup_events.parquet")
    ev_id = ev.column("event_id").to_numpy()
    ev_user = ev.column("user_id").to_numpy()
    ev_type = np.array(ev.column("event_type").to_pylist())
    ev_val = ev.column("value").to_numpy()
    ann64 = ann.astype(np.float64)
    ann64 /= np.linalg.norm(ann64, axis=1, keepdims=True)

    ops = []
    files = []
    ingests = 0
    next_doc = SERVE_CORPUS_DOCS
    admitted = list(corpus)
    for k, op in enumerate(order):
        if op == "ingest_file":
            # one ingest in five also carries a re-delivery of a loaded file;
            # the first is the third ingest, the first one after warm-up
            again = files[int(r.integers(0, len(files)))] if ingests % 5 == 2 else None
            ingests += 1
            name, data, truth = dirty_file(r, len(files))
            with open(f"{out}/inbox/{name}", "wb") as f:
                f.write(data)
            files.append(name)
            ops.append({"op": op, "file": name, "redeliver": again, **truth})
        elif op == "dedup_admit":
            docs, verdicts = [], []
            for j in range(SERVE_BATCH_DOCS):
                kind = ("exact_dup", "near_dup", "new", "new")[j % 4]
                if kind == "exact_dup":
                    t = admitted[int(r_b.integers(0, len(admitted)))]
                elif kind == "near_dup":
                    t = near_copy(r_b, admitted[int(r_b.integers(0, len(admitted)))])
                else:
                    t = fresh_text(r_b, f"b{k}_{j}")
                docs.append([next_doc, t])
                verdicts.append(kind)
                next_doc += 1
            admitted += [d[1] for d, v in zip(docs, verdicts) if v == "new"]
            ops.append({"op": op, "doc_ids": [d[0] for d in docs],
                        "texts": [d[1] for d in docs], "verdicts": verdicts})
        elif op == "ann_topk":
            c = r_q.integers(0, ANN_CLUSTERS, ANN_QUERIES)
            q = centres[c] + 0.04 * r_q.standard_normal((ANN_QUERIES, EMB_DIM)).astype(np.float32)
            q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
            ops.append({"op": op, "queries": [[float(x) for x in row] for row in q],
                        "exact_top_k": [exact_top_k(ann64, row, i) for i, row in enumerate(q)]})
        else:
            types = sorted(r_l.choice(EVENT_TYPES, 2, replace=False).tolist())
            users = sorted(int(u) for u in r_l.choice(n_users, 20, replace=False))
            lo = float(np.round(r_l.uniform(0, 300), 2))
            hi = lo + 100.0
            hit = np.isin(ev_type, types) & np.isin(ev_user, users) & (ev_val >= lo) & (ev_val <= hi)
            groups = {}
            for t, u, i, v in zip(ev_type[hit], ev_user[hit], ev_id[hit], ev_val[hit]):
                g = groups.setdefault((str(t), int(u)), [0, 0.0, int(i), int(i)])
                g[0] += 1
                g[1] += float(v)
                g[2], g[3] = min(g[2], int(i)), max(g[3], int(i))
            ops.append({"op": op, "event_types": types, "user_ids": users, "lo": lo, "hi": hi,
                        "groups": [[t, u, *g] for (t, u), g in sorted(groups.items())]})
    with open(f"{out}/ops.json", "w") as f:
        json.dump({"seed": seed, "ops": ops}, f, sort_keys=True)


def corrupt_truth(serve_dir):
    """Spoil the planted truth of a generated serve set: the first dedup
    verdict and the first ingest's loaded-row count. A benchmark run on it
    must report both requests as failed (the self-test of the checks)."""
    path = f"{serve_dir}/ops.json"
    with open(path) as f:
        doc = json.load(f)
    ops = doc["ops"]
    d = next(o for o in ops if o["op"] == "dedup_admit")
    d["verdicts"][0] = "new" if d["verdicts"][0] != "new" else "exact_dup"
    next(o for o in ops if o["op"] == "ingest_file")["loaded"] += 1
    with open(path, "w") as f:
        json.dump(doc, f, sort_keys=True)

