"""Seeded input generator for the benchmark workloads.

Writes one table set (parquet, the schema of the library's fixture tables)
into a directory.  The same (sizes, seed) always gives byte-identical
tables, so a run's inputs are a pure function of its --seed.

Documents follow the fixture's shape: 10-99 words drawn uniformly from a
30-word vocabulary, five languages, twenty sources, and a share of injected
near-duplicates (a copy of an earlier document with the token "dup"
appended) plus a few exact copies.  Growth is by VOCABULARY-DISJOINT
blocks: every token of block r > 0 carries the suffix "x<r>", so blocks
never share shingles and the corpus gains size without gaining duplicate
density (rotating words of a 30-word vocabulary would keep most 3-shingles
and turn every replica into a near-duplicate of the others).  The seed
picks which documents are duplicated and of what.

The co-purchase graph (lineitem) is grown the same way: replica r's part
keys live in their own stride [r*P, (r+1)*P), renumbered by a seeded
bijection inside that stride, so replicas never share nodes.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return table.num_rows


def documents(rng, n_docs, block, near_dup_share, exact_dup_share):
    n_words = rng.integers(10, 100, size=n_docs)
    word_ids = rng.integers(0, len(WORDS), size=int(n_words.sum()))
    ends = np.cumsum(n_words)
    texts = []
    for i in range(n_docs):
        r = i // block
        ws = [WORDS[w] for w in word_ids[ends[i] - n_words[i]:ends[i]]]
        if r:
            ws = [f"{w}x{r}" for w in ws]
        texts.append(" ".join(ws))
    # injected duplicates: each picks an EARLIER document of its own block
    # (same vocabulary) as its original
    n_near = int(round(n_docs * near_dup_share))
    n_exact = int(round(n_docs * exact_dup_share))
    candidates = np.arange(n_docs)[np.arange(n_docs) % block > 0]
    picked = rng.choice(candidates, size=min(n_near + n_exact, len(candidates)),
                        replace=False)
    for j, i in enumerate(sorted(picked)):
        r = i // block
        orig = int(rng.integers(r * block, i))
        if j < n_near:
            texts[i] = texts[orig] + (" dup" if r == 0 else f" dupx{r}")
        else:
            texts[i] = texts[orig]
    lang = LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    source = np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str))
    text = pa.array(texts, pa.string())
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": text,
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array(source.tolist(), pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def orders(rng, n_orders):
    price = np.round(rng.uniform(1000, 500000, size=n_orders), 2)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), size=n_orders)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_orders).tolist()),
        "o_totalprice": pa.array(price),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2405, size=n_orders) * DAY_US),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, size=n_orders)].tolist()),
    })


def lineitem(rng, replicas, orders_per_replica, parts_per_replica):
    """Baskets of 1-17 lines (fixture-like, mean ~4), replica-disjoint keys."""
    okeys, pkeys, lnums = [], [], []
    for r in range(replicas):
        sizes = np.clip(rng.poisson(3.9, size=orders_per_replica), 1, 17)
        n = int(sizes.sum())
        order = np.repeat(np.arange(orders_per_replica), sizes)
        base_part = rng.integers(0, parts_per_replica, size=n)
        bijection = rng.permutation(parts_per_replica)
        okeys.append(r * orders_per_replica + order)
        pkeys.append(r * parts_per_replica + bijection[base_part])
        lnums.append(np.concatenate([np.arange(1, s + 1) for s in sizes]))
    ok, pk, ln = (np.concatenate(x).astype(np.int64) for x in (okeys, pkeys, lnums))
    n = len(ok)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(ok),
        "l_partkey": pa.array(pk),
        "l_suppkey": pa.array(rng.integers(0, 1000, size=n)),
        "l_linenumber": pa.array(ln.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n).tolist()),
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(0, 2500, size=n) * DAY_US),
    })


def events(rng, n_events, n_users):
    ts = np.sort(rng.integers(0, 30 * DAY_US, size=n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n_events)].tolist()),
        "value": pa.array(np.round(rng.exponential(60.0, size=n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
    })


def embeddings(rng, n_vecs, dim=64):
    v = rng.normal(0, 0.13, size=(n_vecs, dim)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs).astype(np.int32)),
    })


def generate(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write every table named in `sizes` into out_dir; returns row counts.
    Each table draws from its own seeded stream, so adding a table to a
    workload never changes the others."""
    rows = {}
    ss = np.random.SeedSequence(seed)
    streams = dict(zip(["documents", "orders", "lineitem", "events", "embeddings"],
                       (np.random.default_rng(s) for s in ss.spawn(5))))
    for name, spec in sizes.items():
        rng = streams[name]
        if name == "documents":
            t = documents(rng, spec["docs"], spec["block"],
                          spec["near_dup_share"], spec["exact_dup_share"])
        elif name == "orders":
            t = orders(rng, spec["orders"])
        elif name == "lineitem":
            t = lineitem(rng, spec["replicas"], spec["orders_per_replica"],
                         spec["parts_per_replica"])
        elif name == "events":
            t = events(rng, spec["events"], spec["users"])
        elif name == "embeddings":
            t = embeddings(rng, spec["vectors"])
        else:
            raise ValueError(f"unknown table {name}")
        rows[name] = _write(t, f"{out_dir}/{name}.parquet")
    return rows
