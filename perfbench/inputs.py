"""Seeded input generators for the benchmark, in the repo's parquet schemas.

`events` rows: (event_id BIGINT, ts TIMESTAMP[us], user_id BIGINT,
event_type VARCHAR, value DOUBLE, props VARCHAR), with `props` of the form
`{"k": <object id>}`. Users and objects are Zipf-skewed; about 1 % of the
rows carry a malformed `props` that the extract stage must drop.

`documents` rows: (doc_id BIGINT, text VARCHAR, lang VARCHAR,
source VARCHAR, n_chars BIGINT), with planted exact-duplicate and
near-duplicate clusters.

The same seed always gives the same files.
"""
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "view", "purchase", "error", "click"])
EVENT_WEIGHTS = np.array([0.10, 0.40, 0.25, 0.10, 0.15])
MALFORMED = np.array(["not-json", '{"k": "x"}', '{"j": 7}', "", '{"k": -}'])
BASE_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window and of is el los y que le la et der die "
    "das und lane river stone cloud paper metal glass light sound field "
    "north south east west early late quick brown green ").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_WEIGHTS = np.array([0.44, 0.15, 0.15, 0.14, 0.12])


_K = re.compile(r'"k": (\d+)')


def object_of(props):
    """The object id the extract stage reads from `props`, or None."""
    m = _K.search(props or "")
    return int(m.group(1)) if m else None


def rng_for(seed, tag):
    return np.random.default_rng([int(seed), sum(map(ord, tag))])


def zipf_ids(rng, n, space, s=1.1):
    """n draws over [0, space) with Zipf(s) popularity, on shuffled ids."""
    p = 1.0 / np.arange(1, space + 1) ** s
    p /= p.sum()
    perm = rng.permutation(space)
    return perm[rng.choice(space, size=n, p=p)].astype(np.int64)


def events(seed, tag, n, users, objects):
    """One seeded event stream as a pyarrow table, ordered by event_id."""
    rng = rng_for(seed, tag)
    gaps = rng.integers(0, 2_000_000, size=n)  # 0 allows equal timestamps
    ts = BASE_US + np.cumsum(gaps)
    user = zipf_ids(rng, n, users)
    obj = zipf_ids(rng, n, objects)
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n,
                                   p=EVENT_WEIGHTS)]
    bad = rng.random(n) < 0.01
    props = np.array([f'{{"k": {o}}}' for o in obj], dtype=object)
    props[bad] = MALFORMED[rng.integers(0, len(MALFORMED), size=bad.sum())]
    value = np.round(rng.random(n) * 200.0, 2)
    return pa.table([
        pa.array(np.arange(n, dtype=np.int64)),
        pa.array(ts, type=pa.int64()).cast(pa.timestamp("us")),
        pa.array(user), pa.array(etype.astype(object), type=pa.string()),
        pa.array(value), pa.array(props, type=pa.string())],
        schema=EVENTS_SCHEMA)


def _mutate(rng, words, edits):
    words = list(words)
    for pos in rng.choice(len(words), size=edits, replace=False):
        words[pos] = VOCAB[rng.integers(0, len(VOCAB))]
    return words


def documents(seed, tag, n):
    """n documents: ~8 % land in exact-duplicate clusters and ~8 % in
    near-duplicate clusters (one or two word edits of a 40..120-word
    original), the rest are independent draws from the vocabulary."""
    rng = rng_for(seed, tag)
    texts = []
    while len(texts) < n:
        words = [VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                                 size=rng.integers(40, 121))]
        texts.append(" ".join(words))
        u = rng.random()
        copies = int(rng.integers(1, 4))
        if u < 0.06:  # exact-duplicate cluster
            texts.extend([texts[-1]] * copies)
        elif u < 0.12:  # near-duplicate cluster
            for _ in range(copies):
                texts.append(" ".join(_mutate(rng, words,
                                              int(rng.integers(1, 3)))))
    texts = texts[:n]
    order = rng.permutation(n)  # scatter cluster members over doc ids
    texts = [texts[i] for i in order]
    lang = LANGS[rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)]
    return pa.table([
        pa.array(np.arange(n, dtype=np.int64)),
        pa.array(texts, type=pa.string()),
        pa.array(lang.astype(object), type=pa.string()),
        pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        pa.array([len(t) for t in texts], type=pa.int64())],
        schema=DOCS_SCHEMA)


def write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 4))
