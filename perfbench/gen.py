"""Seeded input and query-panel generator for the lake benchmark.

Everything the benchmark feeds the engine comes from here: the parquet
tables (documents, customer, embeddings), the lake's files, and the
query panel. The same seed yields byte-identical files; run
`python3 perfbench/gen.py --check --seed N` to verify that on this
machine (it generates twice and compares SHA-256 digests).

Documents follow the recipe of graft.ScaleBench.generate: a base corpus
plus perturbed copies whose tokens carry a `_cJ` suffix, so copies are
not near-duplicates of each other. graft's tokenizer splits on
[^a-z0-9]+, so `data_c1` indexes as `data` and `c1`: a copy-J bm25
query still matches the shared words of every copy and adds a `cJ` term
that every copy-J document carries, and fuzzy queries (typos of base
words) match every copy. The panel therefore does not isolate one
copy's files; it measures pruning on shared vocabulary.
"""
import argparse
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LONG_WORDS = [w for w in VOCAB if len(w) >= 4]  # a typo still leaves a word
LANGS = ["en", "en", "es", "zh", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DIM = 64
COPY_ID_STRIDE = 10_000_000
K = 10

# Per-workload sizes. Row counts are fixed; only the content depends on
# the seed, so every seed measures the same amount of work.
SIZES = {
    "lake_search": dict(base_docs=500, copies=4, customers=2000,
                        vectors=1000, panel=96),
    "pipeline_batch": dict(base_docs=500, copies=1, vectors=500),
}

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
CUST_SCHEMA = pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                         ("c_nationkey", pa.int32()),
                         ("c_acctbal", pa.float64()),
                         ("c_mktsegment", pa.string())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def doc_texts(rng, n):
    """n documents of 8-100 words; ~3% are near-copies of an earlier
    document (one word replaced) and ~0.5% exact copies, so the dedup
    operators have planted pairs to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.03:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        elif i > 20 and r < 0.035:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(8, 101))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)]
            if rng.random() < 0.05:
                words.append("dup")
            texts.append(" ".join(words))
    return texts


def documents(rng, n, copies):
    base = doc_texts(rng, n)
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), n)]
    ids, texts, ls, srcs = [], [], [], []
    for c in range(copies):
        for i, t in enumerate(base):
            ids.append(c * COPY_ID_STRIDE + i)
            texts.append(t if c == 0 else
                         " ".join(w + f"_c{c}" for w in t.split(" ")))
            ls.append(langs[i])
            srcs.append(f"src{i % 20}")
    return pa.table([ids, texts, ls, srcs, [len(t) for t in texts]],
                    schema=DOC_SCHEMA)


def customers(rng, n):
    return pa.table([
        list(range(n)), [f"Customer#{k:09d}" for k in range(n)],
        rng.integers(0, 25, n).astype(np.int32).tolist(),
        np.round(rng.uniform(-999.99, 9999.99, n), 2).tolist(),
        [SEGMENTS[j] for j in rng.integers(0, len(SEGMENTS), n)]],
        schema=CUST_SCHEMA)


def embeddings(rng, n):
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, n)
    v = centers[labels] + 0.8 * rng.normal(size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table([list(range(n)), [row.tolist() for row in v],
                     labels.astype(np.int32).tolist()], schema=EMB_SCHEMA)


def phrase(rng, texts):
    """Two consecutive words of a random document: a substring with at
    least one match."""
    while True:
        words = texts[int(rng.integers(0, len(texts)))].split(" ")
        if len(words) >= 2:
            j = int(rng.integers(0, len(words) - 1))
            return f"{words[j]} {words[j + 1]}"


def typo(word, rng):
    """One deleted character: within edit distance 1 of `word`."""
    j = int(rng.integers(0, len(word)))
    return word[:j] + word[j + 1:]


def lake_search_panel(rng, docs, n_cust, n):
    """Seeded query mix. Each line: op<TAB>query<TAB>k. The ops cover
    the facade (search / smartSearch over every text and key kind) and
    the SQL surface (graft_search, graft_rank, and a contains filter
    rewritten by IndexPruneRule)."""
    texts = docs.column("text").to_pylist()
    copies = sorted({i // COPY_ID_STRIDE for i in docs.column("doc_id").to_pylist()})

    def words(c):
        return [w + (f"_c{c}" if c else "") for w in VOCAB]

    # one slot per op kind in each cycle: no measured traffic mix exists
    # for this system, so every search path weighs the same in the
    # latency and throughput metrics
    ops = ["bm25", "ngram", "key", "fuzzy", "smart", "sql_rank",
           "sql_search", "sql_contains"]
    lines = []
    for i in range(n):
        op = ops[i % len(ops)]
        c = copies[int(rng.integers(0, len(copies)))]
        if op in ("bm25", "sql_rank"):
            ws = rng.choice(words(c), 2, replace=False)
            q = " ".join(ws)
        elif op in ("ngram", "smart", "sql_search", "sql_contains"):
            q = phrase(rng, texts)
        elif op == "key":
            q = f"Customer#{int(rng.integers(0, n_cust)):09d}"
        else:
            q = typo(LONG_WORDS[int(rng.integers(0, len(LONG_WORDS)))], rng)
        lines.append(f"{op}\t{q}\t{K}")
    return lines


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out`."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    docs = documents(rng, size["base_docs"], size["copies"])
    write(docs, f"{out}/documents.parquet")
    panel = []
    if workload == "lake_search":
        cust = customers(rng, size["customers"])
        # the lake: each table as files arrive in a data lake, in key
        # order, so a copy's documents share files
        for name, table, parts in (("documents", docs, 8), ("customer", cust, 4)):
            os.makedirs(f"{out}/lake/{name}")
            step = -(-table.num_rows // parts)
            for i in range(parts):
                write(table.slice(i * step, step),
                      f"{out}/lake/{name}/part-{i:05d}.parquet")
        panel = lake_search_panel(rng, docs, size["customers"], size["panel"])
    # every workload gets embeddings: pipeline_batch's operators read
    # them, and the traced run's kernel probes use them everywhere
    write(embeddings(rng, size["vectors"]), f"{out}/embeddings.parquet")
    with open(f"{out}/panel.tsv", "w") as f:
        f.write("".join(line + "\n" for line in panel))


def digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default=None, choices=list(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", default="perfbench/.run/gen")
    ap.add_argument("--check", action="store_true",
                    help="generate twice and require identical bytes")
    a = ap.parse_args()
    workloads = [a.workload] if a.workload else list(SIZES)
    ok = True
    for w in workloads:
        if a.check:
            d1, d2 = f"{a.out}/{w}.1", f"{a.out}/{w}.2"
            generate(w, a.seed, d1)
            generate(w, a.seed, d2)
            same = digest(d1) == digest(d2)
            print(f"{w} seed={a.seed} sha256={digest(d1)[:16]} "
                  f"{'identical' if same else 'DIFFERENT'}")
            ok &= same
            shutil.rmtree(d1)
            shutil.rmtree(d2)
        else:
            generate(w, a.seed, f"{a.out}/{w}")
            print(f"{w} seed={a.seed} sha256={digest(f'{a.out}/{w}')[:16]}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
