"""Seeded input generators for the benchmark.

Febrl-shaped person records (the shape of Febrl ``dsgen`` output that the
reference's three jobs read) and the two parquet tables the dedup query
slice reads (``customer`` and ``documents``, in the schema of the repo's
synthetic sf tables). The same seed always gives the same bytes.

Febrl records:
  * ids ``rec-<n>-org`` / ``rec-<n>-dup-<i>``; a duplicate copies its
    original and then takes typo, missing-value and field-swap edits;
  * names, streets and suburbs are built from syllables;
  * ``blocking_number`` follows a Zipf law with exponent ``zipf`` over
    ``blocks`` values (0 gives uniform blocks), ``state`` follows fixed
    Australian population weights. Both are assigned per duplicate
    cluster from exact quotas, so every seed gives the same block-size
    profile and the same pair count up to a cluster at each quota edge.
    Duplicates never edit the two blocking fields, so every true duplicate
    pair is a candidate pair.

Run ``python3 gen.py febrl --seed 1 --records 900 --zipf 0 --out x.csv`` or
``python3 gen.py tables --seed 1 --customers 3000 --documents 1000 --out d``.
"""
import argparse
import os
import random

FEBRL_COLUMNS = [
    "rec_id", "given_name", "surname", "street_number", "address_1",
    "address_2", "suburb", "postcode", "state", "date_of_birth", "age",
    "phone_number", "soc_sec_id", "blocking_number"]

SYLLABLES = [
    "ka", "ri", "mo", "lan", "ter", "son", "bel", "dra", "vi", "en", "o",
    "sa", "mi", "ro", "chel", "ton", "ma", "li", "an", "de", "ne", "ar",
    "wil", "ly", "ga", "bri", "el", "ja", "co", "bo", "ste", "phen", "hu",
    "ber", "ta", "na", "kel", "ric", "jo", "sy"]
STREET_KINDS = ["street", "road", "avenue", "place", "crescent", "close"]
PLACE_KINDS = ["homes", "village", "caravan park", "lodge", "house"]
# (state, share of records); "" is a missing state, which blocks together
STATES = [("nsw", 0.30), ("vic", 0.24), ("qld", 0.18), ("wa", 0.09),
          ("sa", 0.07), ("tas", 0.03), ("act", 0.02), ("nt", 0.01),
          ("", 0.06)]
# fields a duplicate may edit (never rec_id or the two blocking fields)
EDITABLE = ["given_name", "surname", "street_number", "address_1",
            "address_2", "suburb", "postcode", "date_of_birth", "age",
            "phone_number", "soc_sec_id"]
SWAPS = [("given_name", "surname"), ("address_1", "address_2"),
         ("suburb", "address_2")]
LETTERS = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"


def word(rng, lo=2, hi=3):
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(lo, hi)))


def quotas(weights, total):
    """Largest-remainder split of ``total`` by ``weights``."""
    s = float(sum(weights))
    raw = [w / s * total for w in weights]
    out = [int(r) for r in raw]
    rest = sorted(range(len(raw)), key=lambda i: (out[i] - raw[i], i))
    for i in rest[:total - sum(out)]:
        out[i] += 1
    return out


def assign_by_quota(rng, clusters, values, weights):
    """Give each cluster one value so value record counts follow ``weights``.

    Record slots are labelled by exact quotas; clusters, in seeded order,
    take consecutive slots and the label of their first slot."""
    sizes = [len(c) for c in clusters]
    slots = []
    for v, q in zip(values, quotas(weights, sum(sizes))):
        slots += [v] * q
    order = list(range(len(clusters)))
    rng.shuffle(order)
    out = [None] * len(clusters)
    pos = 0
    for ci in order:
        out[ci] = slots[pos]
        pos += sizes[ci]
    return out


def original(rng):
    dob_year = rng.randint(1930, 2005)
    age = 2024 - dob_year
    return {
        "given_name": word(rng),
        "surname": word(rng, 2, 4),
        "street_number": str(rng.randint(1, 400)),
        "address_1": word(rng) + " " + rng.choice(STREET_KINDS),
        "address_2": (word(rng) + " " + rng.choice(PLACE_KINDS)
                      if rng.random() < 0.4 else ""),
        "suburb": word(rng, 2, 4) + ("" if rng.random() < 0.7 else " " + word(rng, 1, 2)),
        "postcode": str(rng.randint(2000, 7999)),
        "date_of_birth": "%04d%02d%02d" % (dob_year, rng.randint(1, 12), rng.randint(1, 28))
        if rng.random() < 0.9 else "",
        "age": str(age) if rng.random() < 0.8 else "",
        "phone_number": "0%d %08d" % (rng.randint(2, 8), rng.randint(0, 99999999)),
        "soc_sec_id": str(rng.randint(1000000, 9999999)),
    }


def typo(rng, s):
    alphabet = DIGITS if s and s.replace(" ", "").isdigit() else LETTERS
    if len(s) < 2:
        return s + rng.choice(alphabet)
    i = rng.randrange(len(s))
    kind = rng.randrange(4)
    if kind == 0:
        return s[:i] + rng.choice(alphabet) + s[i + 1:]
    if kind == 1:
        return s[:i] + s[i + 1:]
    if kind == 2:
        return s[:i] + rng.choice(alphabet) + s[i:]
    j = min(i + 1, len(s) - 1)
    chars = list(s)
    chars[i], chars[j] = chars[j], chars[i]
    return "".join(chars)


def duplicate(rng, org):
    rec = dict(org)
    for _ in range(rng.randint(1, 3)):
        r = rng.random()
        if r < 0.6:
            f = rng.choice(EDITABLE)
            rec[f] = typo(rng, rec[f])
        elif r < 0.85:
            rec[rng.choice(EDITABLE)] = ""
        else:
            a, b = rng.choice(SWAPS)
            rec[a], rec[b] = rec[b], rec[a]
    return rec


def febrl_records(seed, records, zipf, blocks=10, dup_share=0.35, first_id=0):
    """``records`` Febrl rows (dicts) in a seeded order."""
    rng = random.Random(seed)
    n_dup = int(records * dup_share)
    n_org = records - n_dup
    clusters = [[original(rng)] for _ in range(n_org)]
    for _ in range(n_dup):
        c = clusters[rng.randrange(n_org)]
        c.append(duplicate(rng, c[0]))
    bweights = [1.0 / (i + 1) ** zipf for i in range(blocks)]
    bnums = assign_by_quota(rng, clusters, [str(i) for i in range(blocks)], bweights)
    states = assign_by_quota(rng, clusters, [s for s, _ in STATES], [w for _, w in STATES])
    rows = []
    for ci, c in enumerate(clusters):
        n = first_id + ci
        for i, rec in enumerate(c):
            row = dict(rec)
            row["rec_id"] = "rec-%d-org" % n if i == 0 else "rec-%d-dup-%d" % (n, i - 1)
            row["state"] = states[ci]
            row["blocking_number"] = bnums[ci]
            rows.append(row)
    rng.shuffle(rows)
    return rows


def febrl_csv(rows):
    """Febrl layout: header, then ``rec_id`` and a leading space before each
    later field (missing values stay empty, no quoting)."""
    lines = [",".join(FEBRL_COLUMNS)]
    for r in rows:
        lines.append(r["rec_id"] + "," + ",".join(
            (" " + r[c]) if r[c] else "" for c in FEBRL_COLUMNS[1:]))
    return "\n".join(lines) + "\n"


def block_share(rows):
    """Heaviest block's share of all pairwise work over both blocking
    functions: the statistic the strategy chooser compares with 0.5."""
    counts = {}
    for r in rows:
        for k, c in ((1, "blocking_number"), (2, "state")):
            key = (k, r[c].strip())
            counts[key] = counts.get(key, 0) + 1
    work = [n * (n - 1) // 2 for n in counts.values()]
    return max(work) / float(sum(work))


def write_febrl(path, seed, records, zipf, first_id=0):
    with open(path, "w") as f:
        f.write(febrl_csv(febrl_records(seed, records, zipf, first_id=first_id)))


WORDS = ["a", "the", "data", "spark", "query", "table", "row", "column",
         "join", "sort", "hash", "group", "agg", "filter", "scan", "window",
         "stream", "batch", "key", "value", "order", "line", "part",
         "customer", "vector", "fast", "slow", "big", "small", "merge"]
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def tables(seed, customers, documents):
    """(customer, documents) column dicts in the sf-table schema. About 6%
    of documents are near copies of an earlier one (a few words changed)
    and 0.5% exact copies, so every stage of the near-dup queries has
    work."""
    rng = random.Random(seed)
    cust = {
        "c_custkey": list(range(customers)),
        "c_name": ["Customer#%09d" % i for i in range(customers)],
        "c_nationkey": [rng.randrange(25) for _ in range(customers)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(customers)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(customers)],
    }
    texts = []
    for _ in range(documents):
        r = rng.random()
        if texts and r < 0.005:
            texts.append(rng.choice(texts))
        elif texts and r < 0.065:
            words = rng.choice(texts).split(" ")
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 80))))
    langs = [l for l, _ in LANGS]
    lw = [w for _, w in LANGS]
    docs = {
        "doc_id": list(range(documents)),
        "text": texts,
        "lang": [rng.choices(langs, lw)[0] for _ in range(documents)],
        "source": ["src%d" % (i % 20) for i in range(documents)],
        "n_chars": [len(t) for t in texts],
    }
    return cust, docs


def write_tables(out_dir, seed, customers, documents):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cust, docs = tables(seed, customers, documents)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "c_custkey": pa.array(cust["c_custkey"], pa.int64()),
        "c_name": pa.array(cust["c_name"], pa.string()),
        "c_nationkey": pa.array(cust["c_nationkey"], pa.int32()),
        "c_acctbal": pa.array(cust["c_acctbal"], pa.float64()),
        "c_mktsegment": pa.array(cust["c_mktsegment"], pa.string()),
    }), os.path.join(out_dir, "customer.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array(docs["n_chars"], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="kind", required=True)
    f = sub.add_parser("febrl")
    f.add_argument("--seed", type=int, required=True)
    f.add_argument("--records", type=int, required=True)
    f.add_argument("--zipf", type=float, default=0.0)
    f.add_argument("--first-id", type=int, default=0)
    f.add_argument("--out", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--customers", type=int, required=True)
    t.add_argument("--documents", type=int, required=True)
    t.add_argument("--out", required=True)
    a = p.parse_args()
    if a.kind == "febrl":
        write_febrl(a.out, a.seed, a.records, a.zipf, a.first_id)
    else:
        write_tables(a.out, a.seed, a.customers, a.documents)


if __name__ == "__main__":
    main()
