"""Seeded input generator for the pipeline benchmark.

Each workload's input is a directory of parquet part files plus
`facts.json`, which records what the generator planted (invalid rows,
duplicate rows, near-duplicate clusters, eval overlap) so the harness can
check the pipeline's outputs against them. The same (workload, seed, rows)
always gives byte-identical files; `facts.json` carries their checksum.

    python3 perfbench/gen.py <workload> <seed> <rows> <out_dir>
"""

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 4  # part files per input: one read split per local core


def _write_parts(table, out_dir):
    d = os.path.join(out_dir, "src")
    os.makedirs(d)
    step = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(d, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _checksum(out_dir):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, out_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _dirty(rng, values, n):
    """Pick from `values` with planted padding and mixed case."""
    v = np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]
    style = rng.integers(0, 6, n)
    out = np.empty(n, dtype=object)
    for i in range(n):
        s = v[i]
        k = style[i]
        if k == 1:
            s = " " + s
        elif k == 2:
            s = s.lower() + "  "
        elif k == 3:
            s = s.title()
        out[i] = s
    return out


def _words(rng, vocab, lo, hi, n):
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(vocab), lens.sum())
    out, p = [], 0
    for k in lens:
        out.append(" ".join(vocab[j] for j in idx[p:p + k]))
        p += k
    return out


def gen_lineitem(rng, n):
    base_n = int(n * 0.97)
    dup_n = n - base_n  # exact duplicate rows, planted
    qty = rng.integers(1, 51, base_n).astype(np.float64)
    bad_qty = rng.random(base_n) < 0.03  # rule qty_positive
    qty[bad_qty] = -rng.integers(0, 51, bad_qty.sum()).astype(np.float64)
    unit = rng.uniform(900.0, 2100.0, base_n)
    price = np.round(np.abs(qty) * unit, 2)
    neg_price = rng.random(base_n) < 0.01  # clipped, not rejected
    price[neg_price] = -price[neg_price]
    price_null = rng.random(base_n) < 0.01  # rule price_not_null
    disc = np.round(rng.uniform(0.0, 0.1, base_n), 2)
    disc_null = rng.random(base_n) < 0.05  # filled
    tax = np.round(rng.uniform(0.0, 0.08, base_n), 2)
    bad_tax = rng.random(base_n) < 0.02  # rule tax_le
    tax[bad_tax] = 0.5
    ship = np.datetime64("1994-01-01") + rng.integers(0, 2500, base_n).astype("timedelta64[D]")
    comment_vocab = ["carefully", "final", "deposits", "regular", "ironic", "quickly",
                     "packages", "accounts", "furiously", "express", "bold", "even"]
    comments = np.array(_words(rng, comment_vocab, 3, 9, base_n), dtype=object)
    comments[rng.random(base_n) < 0.03] = None
    cols = {
        "l_orderkey": np.sort(rng.integers(1, base_n * 2, base_n)),
        "l_partkey": rng.integers(1, 200001, base_n),
        "l_suppkey": rng.integers(1, 10001, base_n),
        "l_linenumber": rng.integers(1, 8, base_n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": _dirty(rng, ["R", "A", "N"], base_n),
        "l_linestatus": _dirty(rng, ["O", "F"], base_n),
        "l_shipdate": ship,
        "l_commitdate": ship + rng.integers(-30, 60, base_n).astype("timedelta64[D]"),
        "l_receiptdate": ship + rng.integers(1, 30, base_n).astype("timedelta64[D]"),
        "l_shipinstruct": _dirty(rng, ["DELIVER IN PERSON", "COLLECT COD", "NONE",
                                       "TAKE BACK RETURN"], base_n),
        "l_shipmode": _dirty(rng, ["AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB",
                                   "REG AIR"], base_n),
        "l_comment": comments,
        "w": np.round(rng.uniform(0.1, 80.0, base_n), 3),
        "v": np.round(rng.uniform(0.01, 2.0, base_n), 4),
    }
    # duplicates: copies of random rows, then one shuffle over all rows
    order = np.concatenate([np.arange(base_n), rng.integers(0, base_n, dup_n)])
    order = order[rng.permutation(n)]
    masks = {"price_null": price_null[order], "disc_null": disc_null[order]}
    c = {k: v[order] for k, v in cols.items()}
    invalid = (c["l_quantity"] <= 0) | masks["price_null"] | (c["l_tax"] > 0.08)
    table = pa.table({
        "l_orderkey": pa.array(c["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(c["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(c["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(c["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(c["l_quantity"], pa.float64()),
        "l_extendedprice": pa.array(c["l_extendedprice"], pa.float64(),
                                    mask=masks["price_null"]),
        "l_discount": pa.array(c["l_discount"], pa.float64(), mask=masks["disc_null"]),
        "l_tax": pa.array(c["l_tax"], pa.float64()),
        "l_returnflag": pa.array(c["l_returnflag"], pa.string()),
        "l_linestatus": pa.array(c["l_linestatus"], pa.string()),
        "l_shipdate": pa.array(c["l_shipdate"].astype("datetime64[us]"), pa.timestamp("us")),
        "l_commitdate": pa.array(c["l_commitdate"], pa.date32()),
        "l_receiptdate": pa.array(c["l_receiptdate"], pa.date32()),
        "l_shipinstruct": pa.array(c["l_shipinstruct"], pa.string()),
        "l_shipmode": pa.array(c["l_shipmode"], pa.string()),
        "l_comment": pa.array(c["l_comment"], pa.string()),
        "l_dims": pa.StructArray.from_arrays(
            [pa.array(c["w"], pa.float64()), pa.array(c["v"], pa.float64())],
            names=["weight", "volume"]),
    })
    facts = {"rows": n, "invalid_rows": int(invalid.sum()), "duplicate_rows": dup_n}
    return table, facts, {}


EVENT_TYPES = ["view", "click", "cart", "buy", "share", "rate"]


def gen_events(rng, n):
    gaps = rng.exponential(30.0, n).astype(np.int64)  # seconds, ties allowed
    ts = 1_700_000_000 + np.cumsum(gaps)
    types = np.empty(n, dtype=np.int64)
    switch = rng.random(n) < 0.3  # runs for rle_id
    draw = rng.integers(0, len(EVENT_TYPES), n)
    cur = draw[0]
    for i in range(n):
        if switch[i]:
            cur = draw[i]
        types[i] = cur
    perm = rng.permutation(n)  # file order is not time order
    table = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)[perm]),
        "ts": pa.array(ts[perm], pa.int64()),
        "user": pa.array(rng.integers(1, 5001, n)[perm], pa.int64()),
        "type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[types][perm], pa.string()),
        "value": pa.array(np.round(rng.normal(50.0, 20.0, n), 3)[perm], pa.float64()),
        "amount": pa.array(rng.integers(1, 1001, n)[perm], pa.int64()),
        "tie": pa.array(rng.integers(0, 1000, n)[perm], pa.int32()),
    })
    return table, {"rows": n, "invalid_rows": 0}, {}


LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "den"],
    "es": ["el", "que", "y", "un", "por", "con", "para", "en", "la"],
    "fr": ["le", "les", "et", "une", "est", "pour", "de", "un", "la"],
}


def _vocab(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < size:
        k = int(rng.integers(3, 10))
        out.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(out)


def _variant(rng, toks, vocab, rate):
    """A near duplicate: a few tokens replaced and one dropped."""
    toks = list(toks)
    for i in np.nonzero(rng.random(len(toks)) < rate)[0]:
        toks[i] = vocab[int(rng.integers(0, len(vocab)))]
    del toks[int(rng.integers(0, len(toks)))]
    return toks


def gen_docs(rng, n):
    vocab = _vocab(rng, 4000)
    langs = sorted(LANG_MARKERS)
    texts, clusters = [], []  # clusters: corpus positions of planted near-dups
    eval_overlap = []
    short_ids, null_ids = [], []
    eval_texts = []
    while len(texts) < n:
        i = len(texts)
        r = rng.random()
        if r < 0.03:  # short: quality_filter drops it
            k = rng.integers(2, 8)
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), k)))
            short_ids.append(i)
            continue
        if r < 0.04:  # null: validation rejects it
            texts.append(None)
            null_ids.append(i)
            continue
        lang = langs[int(rng.integers(0, len(langs)))]
        k = int(rng.integers(60, 220))
        body = [vocab[j] for j in rng.integers(0, len(vocab), k)]
        marks = LANG_MARKERS[lang]
        for p in rng.integers(0, k, k // 6):
            body[p] = marks[int(rng.integers(0, len(marks)))]
        texts.append(" ".join(body))
        if rng.random() < 0.01:  # eval overlap: the eval slice holds this text
            eval_texts.append(" ".join(body))
            eval_overlap.append(i)
            continue
        if rng.random() < 0.25:  # near-duplicate cluster: 1-3 variants
            members = [i]
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= n:
                    break
                members.append(len(texts))
                texts.append(" ".join(_variant(rng, body, vocab, 0.02)))
            if len(members) > 1:
                clusters.append(members)
    perm = rng.permutation(n)  # doc ids are not corpus order
    ids = np.arange(n, dtype=np.int64) * 7 + 11
    table = pa.table({
        "doc_id": pa.array(ids[perm]),
        "text": pa.array([texts[p] for p in perm], pa.string()),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 8, n)], pa.string()),
    })
    # unrelated eval docs beside the overlapping ones
    for _ in range(max(5, len(eval_texts))):
        eval_texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), 80)))
    eval_table = pa.table({
        "doc_id": pa.array(np.arange(len(eval_texts), dtype=np.int64) + 10**9),
        "text": pa.array(eval_texts, pa.string()),
    })
    facts = {
        "rows": n,
        "invalid_rows": len(null_ids),
        "short_ids": [int(ids[i]) for i in short_ids],
        "dup_clusters": [[int(ids[i]) for i in c] for c in clusters],
        "eval_overlap_ids": [int(ids[i]) for i in eval_overlap],
    }
    return table, facts, {"eval": eval_table}


GENERATORS = {"etl_lineitem": gen_lineitem, "ordered_events": gen_events,
              "curation_docs": gen_docs}


def generate(workload, seed, rows, out_dir):
    rng = np.random.default_rng([seed, rows, sorted(GENERATORS).index(workload)])
    table, facts, extra = GENERATORS[workload](rng, rows)
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_parts(table, tmp)
    for name, t in extra.items():
        d = os.path.join(tmp, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-00000.parquet"), compression="snappy")
    facts.update(workload=workload, seed=seed, checksum=_checksum(tmp),
                 in_bytes=sum(os.path.getsize(os.path.join(tmp, "src", f))
                              for f in os.listdir(os.path.join(tmp, "src"))))
    with open(os.path.join(tmp, "facts.json"), "w") as fh:
        json.dump(facts, fh)
    try:
        os.replace(tmp, out_dir)
    except OSError:  # a concurrent run generated the same input first
        shutil.rmtree(tmp, ignore_errors=True)
    return facts


if __name__ == "__main__":
    w, s, r, o = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    print(json.dumps({k: v for k, v in generate(w, s, r, o).items()
                      if not isinstance(v, list)}))
