"""Seeded input generator for the four benchmark workloads.

`generate(workload, seed, out_dir)` writes every input file the workload
hands to the engine, plus `manifest.json`: the row counts, the planted
shares and the planted id lists the correctness checks read. The same
seed always produces byte-identical inputs. The engine only ever sees the
parquet files; the manifest is for the benchmark's own checks.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed so that a run of a few seconds completes many operations
# of every workload; see README.md for why each workload exists.
STREAM_EXAMPLES = 40_000
STREAM_FILES = 4

CORPUS_DOCS = 400
CORPUS_SHARES = {"exact_dup": 0.05, "near_dup": 0.05, "pii": 0.05,
                 "boilerplate": 0.10, "contaminated": 0.03}
EVAL_ITEMS = 40

ANN_DIM = 64
ANN_CLUSTERS = 16
ANN_SEED_VECTORS = 4_000
ANN_APPEND_BATCHES = 32
ANN_APPEND_ROWS = 250
ANN_QUERY_BATCHES = 64
ANN_QUERY_ROWS = 16

MIX_LINEITEMS = 6_000
MIX_ORDERS = 1_500
MIX_CUSTOMERS = 150
MIX_PARTS = 200
MIX_SUPPLIERS = 10
MIX_EVENTS = 2_000
MIX_VECTORS = 1_000

# Words that the engine's language profiles count: English stopwords make
# every organic doc identify as `en`; no other profile's words are used.
EN_STOPWORDS = ["the", "a", "of", "and", "to"]
BOILERPLATE = ["share this page on your favourite network today",
               "all rights reserved by the site owners worldwide",
               "subscribe to our newsletter for weekly updates now"]


def _vocab(rng, n):
    letters = np.array(list("bcfghjkmnpqrstvwxyz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(letters[rng.integers(0, len(letters))] + vowels[rng.integers(0, len(vowels))]
                    for _ in range(k))
        if w not in EN_STOPWORDS:
            words.add(w)
    return sorted(words)


def _sentence(rng, vocab, n_tokens):
    out = []
    for _ in range(n_tokens):
        if rng.random() < 0.25:
            out.append(EN_STOPWORDS[int(rng.integers(0, len(EN_STOPWORDS)))])
        else:
            out.append(vocab[int(rng.integers(0, len(vocab)))])
    return out


def _write(table, path, files=1):
    """Write `table` as a parquet directory of `files` part files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def gen_train_stream(rng, out):
    n = STREAM_EXAMPLES
    keys = rng.permutation(n).astype(np.int64)
    lengths = rng.integers(1, 25, size=n)
    flat = rng.integers(0, 30_000, size=int(lengths.sum())).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    table = pa.table({
        "key": keys,
        "x1": rng.normal(0.0, 1.0, n),
        "x2": rng.uniform(-5.0, 5.0, n),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
    })
    _write(table, os.path.join(out, "examples.parquet"), STREAM_FILES)
    return {"tables": {"examples": n}, "batch_size": 256,
            "token_ids": int(len(flat))}


def gen_curate_corpus(rng, out):
    vocab = _vocab(rng, 3000)
    n = CORPUS_DOCS
    shares = CORPUS_SHARES
    eval_items = [_sentence(rng, vocab, 24) for _ in range(EVAL_ITEMS)]
    texts = [_sentence(rng, vocab, int(rng.integers(80, 160))) for _ in range(n)]
    ids = np.arange(n)
    # Each planted family takes its own slice of a seeded permutation, so no
    # doc carries two plants. Duplicates copy a doc from the untouched pool.
    perm = rng.permutation(n)
    counts = {k: int(round(v * n)) for k, v in shares.items()}
    planted, pos = {}, 0
    for k in ["exact_dup", "near_dup", "pii", "boilerplate", "contaminated"]:
        planted[k] = sorted(int(i) for i in perm[pos:pos + counts[k]])
        pos += counts[k]
    pool = sorted(int(i) for i in perm[pos:])
    dup_of = {}
    for fam in ("exact_dup", "near_dup"):
        for i in planted[fam]:
            # copy a LOWER id so that the planted copy is the one dedup drops
            src = [p for p in pool if p < i]
            if not src:
                continue
            j = src[int(rng.integers(0, len(src)))]
            dup_of[i] = j
            words = list(texts[j])
            if fam == "exact_dup":
                # differs before normalisation only, so the line stage keeps
                # both copies and the exact stage drops the later one
                words[0] = words[0].upper()
                texts[i] = words
            else:
                words[1] = vocab[int(rng.integers(0, len(vocab)))] + "x"
                texts[i] = words
        planted[fam] = [i for i in planted[fam] if i in dup_of]
    for i in planted["contaminated"]:
        item = eval_items[int(rng.integers(0, EVAL_ITEMS))]
        at = int(rng.integers(5, len(texts[i]) - 5))
        texts[i] = texts[i][:at] + item[:12] + texts[i][at:]
    lines = [" ".join(t) for t in texts]
    for i in planted["pii"]:
        lines[i] += f" contact user{i}@example.org or {int(rng.integers(10**7, 10**9))}"
    for i in planted["boilerplate"]:
        lines[i] += "\n" + BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))]
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": lines})
    _write(docs, os.path.join(out, "documents.parquet"), 4)
    bench = pa.table({"doc_id": pa.array(np.arange(EVAL_ITEMS), pa.int64()),
                      "text": [" ".join(t) for t in eval_items]})
    _write(bench, os.path.join(out, "eval.parquet"))
    return {"tables": {"documents": n, "eval": EVAL_ITEMS},
            "shares": shares, "planted": planted,
            "planted_counts": {k: len(v) for k, v in planted.items()},
            "dup_of": {str(k): v for k, v in sorted(dup_of.items())}}


def _vectors(rng, centers, n):
    which = rng.integers(0, len(centers), size=n)
    v = centers[which] + rng.normal(0.0, 0.35, (n, ANN_DIM))
    return v.astype(np.float32)


def _vec_table(ids, vecs):
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, len(ids) * ANN_DIM + 1, ANN_DIM, dtype=np.int32))
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offsets, flat)})


def gen_ann_index(rng, out):
    centers = rng.normal(0.0, 1.0, (ANN_CLUSTERS, ANN_DIM))
    seed_vecs = _vectors(rng, centers, ANN_SEED_VECTORS)
    _write(_vec_table(np.arange(ANN_SEED_VECTORS), seed_vecs),
           os.path.join(out, "corpus.parquet"), 4)
    next_id = ANN_SEED_VECTORS
    for b in range(ANN_APPEND_BATCHES):
        ids = np.arange(next_id, next_id + ANN_APPEND_ROWS)
        next_id += ANN_APPEND_ROWS
        _write(_vec_table(ids, _vectors(rng, centers, ANN_APPEND_ROWS)),
               os.path.join(out, f"append_{b:03d}.parquet"))
    q_base = 1_000_000_000
    for b in range(ANN_QUERY_BATCHES):
        ids = np.arange(q_base + b * ANN_QUERY_ROWS, q_base + (b + 1) * ANN_QUERY_ROWS)
        _write(_vec_table(ids, _vectors(rng, centers, ANN_QUERY_ROWS)),
               os.path.join(out, f"queries_{b:03d}.parquet"))
    return {"tables": {"corpus": ANN_SEED_VECTORS, "append_batches": ANN_APPEND_BATCHES,
                       "append_rows": ANN_APPEND_ROWS, "query_batches": ANN_QUERY_BATCHES,
                       "query_rows": ANN_QUERY_ROWS},
            "dim": ANN_DIM, "clusters": ANN_CLUSTERS}


def _day(rng, n):
    # whole days, like the TESTDATA generator's date columns
    d = rng.integers(np.datetime64("1995-01-01", "D").astype(np.int64),
                     np.datetime64("2002-12-31", "D").astype(np.int64), n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _choice(rng, options, n):
    return [options[i] for i in rng.integers(0, len(options), n)]


def gen_query_mix(rng, out):
    """The TESTDATA schema (see TESTDATA.md) at a small, seeded scale."""
    nat = 25
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(range(nat), pa.int32()),
                            "n_name": [f"NATION{i:02d}" for i in range(nat)],
                            "n_regionkey": pa.array([i % 5 for i in range(nat)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(MIX_CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(MIX_CUSTOMERS)],
            "c_nationkey": pa.array(rng.integers(0, nat, MIX_CUSTOMERS), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, MIX_CUSTOMERS), 2),
            "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                          "HOUSEHOLD", "MACHINERY"], MIX_CUSTOMERS)}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(MIX_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, MIX_CUSTOMERS, MIX_ORDERS), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], MIX_ORDERS),
            "o_totalprice": np.round(rng.uniform(1000, 500000, MIX_ORDERS), 2),
            "o_orderdate": _day(rng, MIX_ORDERS),
            "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                             "4-NOT SPECIFIED", "5-LOW"], MIX_ORDERS)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, MIX_ORDERS, MIX_LINEITEMS), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, MIX_PARTS, MIX_LINEITEMS), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, MIX_SUPPLIERS, MIX_LINEITEMS), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, MIX_LINEITEMS), pa.int32()),
            "l_quantity": rng.integers(1, 51, MIX_LINEITEMS).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, MIX_LINEITEMS), 2),
            "l_discount": np.round(rng.integers(0, 11, MIX_LINEITEMS) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, MIX_LINEITEMS) / 100, 2),
            "l_returnflag": _choice(rng, ["A", "N", "R"], MIX_LINEITEMS),
            "l_linestatus": _choice(rng, ["F", "O"], MIX_LINEITEMS),
            "l_shipdate": _day(rng, MIX_LINEITEMS)}),
    }
    ts = np.sort(rng.integers(np.datetime64("2024-01-01", "us").astype(np.int64),
                              np.datetime64("2024-03-01", "us").astype(np.int64), MIX_EVENTS))
    tables["events"] = pa.table({
        "event_id": pa.array(range(MIX_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 50, MIX_EVENTS), pa.int64()),
        "event_type": _choice(rng, ["view", "click", "signup", "purchase", "error"], MIX_EVENTS),
        "value": np.round(rng.uniform(0, 500, MIX_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, MIX_EVENTS)]})
    centers = rng.normal(0.0, 1.0, (ANN_CLUSTERS, ANN_DIM))
    vecs = _vec_table(np.arange(MIX_VECTORS), _vectors(rng, centers, MIX_VECTORS))
    tables["embeddings"] = vecs.append_column(
        "label", pa.array(rng.integers(0, 10, MIX_VECTORS), pa.int32()))
    for name, table in tables.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    return {"tables": {k: v.num_rows for k, v in tables.items()}}


GENERATORS = {"train_stream": gen_train_stream, "curate_corpus": gen_curate_corpus,
              "ann_index": gen_ann_index, "query_mix": gen_query_mix}


def generate(workload, seed, out_dir):
    """Write the inputs of `workload` for `seed` under `out_dir`; return the
    manifest."""
    os.makedirs(out_dir)
    # one generator stream per (workload, seed): a workload's inputs never
    # depend on which other workloads were generated first
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    manifest = {"workload": workload, "seed": seed, **GENERATORS[workload](rng, out_dir)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
