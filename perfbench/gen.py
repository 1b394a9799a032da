"""Seeded input generators for the four workloads.

Everything here is pure Python and depends only on the seed (and the size
arguments), never on the library, the clock or hash randomization, so one
seed always yields byte-identical inputs.  `fingerprint` hashes a canonical
encoding of each workload's inputs; test_gen.py pins that property.
"""

from __future__ import annotations

import bisect
import datetime
import hashlib
import itertools
import json
import random
import uuid

BASE_TS = datetime.datetime(2024, 1, 1)
# live appends carry timestamps after every seeded event, so a stream
# subscribed from LIVE_TS sees only them
LIVE_TS = datetime.datetime(2025, 1, 1)


class Zipf:
    """Rank sampler over 0..n-1 with P(rank k) proportional to 1/(k+1)^s;
    `sample(rng, n)` truncates to the first n ranks."""

    def __init__(self, max_n: int, s: float) -> None:
        acc, self.cum = 0.0, []
        for k in range(max_n):
            acc += 1.0 / (k + 1) ** s
            self.cum.append(acc)

    def sample(self, rng: random.Random, n: int) -> int:
        n = min(n, len(self.cum))
        return bisect.bisect_left(self.cum, rng.random() * self.cum[n - 1], 0, n - 1)


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _words(seed: str, n: int) -> list[str]:
    rng = random.Random(seed)
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "pe", "du",
            "ga", "hi", "zo", "be", "fa", "ju", "qu", "xe", "wy", "ci"]
    out: set[str] = set()
    words: list[str] = []
    while len(words) < n:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
        if w not in out:
            out.add(w)
            words.append(w)
    return words


# -- command ----------------------------------------------------------------
BLOCK = ("place",) * 17 + ("amend",) * 3  # the mix, shuffled per block
ITEMS_PER_ORDER = (95, 105)
ITEMS_PER_AMEND = (2, 5)
_ZIPF_ORDERS = Zipf(100_000, 1.1)


def _item(rng: random.Random, k: int) -> tuple[str, int, int]:
    """(name, amount in cents, added_at as seconds after BASE_TS)."""
    return (f"item-{rng.randrange(1000):03d}", rng.randrange(100, 10_000), k)


def command_ops(seed: int):
    """Endless seeded command mix.  Each op is either
    ("place", order_index, order_id, name, first_item, items_to_add), the
    reference scenario, or ("amend", order_index, items_to_add) on an
    earlier order picked with Zipf skew (low indices are hot).  Every block
    of 20 commands holds 17 placements and 3 amends in a seeded order, so
    every seed sees the same mix."""
    rng = random.Random(f"command:{seed}")
    placed, clock = 0, 0
    while True:
        block = list(BLOCK)
        rng.shuffle(block)
        if placed == 0:
            block.remove("place")
            block.insert(0, "place")
        for kind in block:
            if kind == "place":
                first = _item(rng, clock)
                n_add = rng.randint(*ITEMS_PER_ORDER)
                items = [_item(rng, clock + 1 + j) for j in range(n_add)]
                clock += n_add + 1
                yield ("place", placed, _uuid(rng), f"Order {seed}-{placed}", first, items)
                placed += 1
            else:
                target = _ZIPF_ORDERS.sample(rng, placed)
                n_add = rng.randint(*ITEMS_PER_AMEND)
                items = [_item(rng, clock + j) for j in range(n_add)]
                clock += n_add
                yield ("amend", target, items)


# -- project ----------------------------------------------------------------
KINDS = ("view", "view", "view", "cart", "purchase")


def stream_ids(n_streams: int) -> list[str]:
    return [f"user-{k:05d}" for k in range(n_streams)]


def event_log(seed: int, n_events: int, n_streams: int) -> list[tuple]:
    """Seeded event log: (id, stream_id, stream_version, created_at, kind,
    value) rows in created_at order over Zipf-sized streams."""
    rng = random.Random(f"project-log:{seed}")
    zipf = Zipf(n_streams, 1.05)
    ids = stream_ids(n_streams)
    versions = [0] * n_streams
    rows = []
    for i in range(n_events):
        k = zipf.sample(rng, n_streams)
        versions[k] += 1
        rows.append((
            _uuid(rng), ids[k], versions[k],
            BASE_TS + datetime.timedelta(milliseconds=i),
            rng.choice(KINDS), rng.randrange(0, 100_000) / 100.0,
        ))
    return rows


def live_appends(seed: int, n_streams: int):
    """Endless (stream_id, kind, value, created_at) appends for the open
    loop, Zipf-skewed over the same streams as the log."""
    rng = random.Random(f"project-live:{seed}")
    zipf = Zipf(n_streams, 1.05)
    ids = stream_ids(n_streams)
    for i in itertools.count():
        yield (ids[zipf.sample(rng, n_streams)], rng.choice(KINDS),
               rng.randrange(0, 100_000) / 100.0,
               LIVE_TS + datetime.timedelta(milliseconds=i))


# -- query ------------------------------------------------------------------
TENANTS = ("tenant-a", "tenant-b", "tenant-c", "tenant-d")
CATEGORIES = ("books", "games", "music", "tools", "garden", "toys", "food")
TAGS = ("new", "sale", "eco", "gift", "bulk", "rare", "promo", "local")
_VOCAB = _words("query-vocab", 3000)
_ZIPF_VOCAB = Zipf(len(_VOCAB), 1.0)


def documents(seed: int, n_docs: int) -> list[dict]:
    """Seeded product documents: text fields, numbers, a timestamp, a tag
    array and a nested item array."""
    rng = random.Random(f"query-docs:{seed}")

    def words(k: int) -> str:
        return " ".join(_VOCAB[_ZIPF_VOCAB.sample(rng, len(_VOCAB))] for _ in range(k))

    docs = []
    for i in range(n_docs):
        title = words(rng.randint(2, 5))
        if rng.random() < 0.5:
            title = title.capitalize()
        docs.append({
            "Id": f"doc-{i:06d}",
            "PartitionKey": TENANTS[rng.randrange(len(TENANTS))],
            "Title": title,
            "Body": words(rng.randint(20, 60)),
            "Category": rng.choice(CATEGORIES),
            "Price": rng.randrange(100, 100_000) / 100.0,
            "Views": rng.randrange(0, 1_000_000),
            "CreatedAt": BASE_TS + datetime.timedelta(minutes=rng.randrange(0, 525_600)),
            "Tags": sorted(rng.sample(TAGS, rng.randint(0, 3))),
            "Items": [
                {"Sku": f"sku-{rng.randrange(500):03d}", "Qty": rng.randint(1, 20)}
                for _ in range(rng.randint(0, 4))
            ],
        })
    return docs


TEMPLATES = (
    "point", "range", "tree", "ignore_case", "any_tags", "search",
    "search_tf", "sorted_page", "facets",
)


def query_specs(seed: int):
    """Endless seeded (template, params) query mix in rounds that hold every
    template once, in a seeded order, so any run of whole rounds has the
    same template mix; the workload turns each spec into a ProjectionQuery."""
    rng = random.Random(f"query-mix:{seed}")
    hot = lambda: _VOCAB[_ZIPF_VOCAB.sample(rng, 200)]  # noqa: E731
    for t in itertools.chain.from_iterable(
            rng.sample(TEMPLATES, len(TEMPLATES)) for _ in itertools.count()):
        if t == "point":
            p = {"tenant": rng.choice(TENANTS), "category": rng.choice(CATEGORIES),
                 "tag": rng.choice(TAGS)}
        elif t == "range":
            lo = rng.randrange(100, 90_000) / 100.0
            p = {"lo": lo, "hi": lo + rng.randrange(500, 5_000) / 100.0,
                 "after": rng.randrange(0, 500_000), "views": rng.randrange(0, 900_000)}
        elif t == "tree":
            p = {"cats": rng.sample(CATEGORIES, 2), "price": rng.randrange(100, 90_000) / 100.0,
                 "views": rng.randrange(0, 1_000_000), "tag": rng.choice(TAGS)}
        elif t == "ignore_case":
            w = hot()
            p = {"prefix": w[:3].upper(), "word": w.upper()}
        elif t == "any_tags":
            p = {"tag": rng.choice(TAGS), "sku": f"sku-{rng.randrange(500):03d}",
                 "qty": rng.randint(5, 18)}
        elif t in ("search", "search_tf"):
            p = {"text": hot(), "limit": rng.choice((10, 20, 50))}
        elif t == "sorted_page":
            p = {"tenant": rng.choice(TENANTS), "offset": rng.randrange(0, 200),
                 "limit": rng.choice((10, 25, 50))}
        else:
            p = {"tag": rng.choice(TAGS), "lo": rng.randrange(100, 50_000) / 100.0}
        yield (t, p)


# -- curate -----------------------------------------------------------------
_CURATE_VOCAB = _words("curate-vocab", 20_000)


def corpus(seed: int, n_docs: int, n_families: int, family_size: tuple[int, int]):
    """Seeded text corpus with planted near-duplicate families.  Returns
    (docs, families): docs is a list of (doc_id, text) in a seeded order;
    families lists the member ids of each planted family.  A family is a
    base text of 50-70 distinct words plus copies with one word replaced,
    so members are >= 0.94 Jaccard apart on word sets; unrelated docs
    draw from a 20k-word vocabulary and stay far below the 0.9 threshold."""
    rng = random.Random(f"curate:{seed}")
    texts: list[str] = []
    families: list[list[int]] = []

    def fresh_words() -> list[str]:
        return rng.sample(_CURATE_VOCAB, rng.randint(50, 70))

    for _ in range(n_families):
        base = fresh_words()
        members = []
        for m in range(rng.randint(*family_size)):
            words = list(base)
            if m:
                words[rng.randrange(len(words))] = rng.choice(_CURATE_VOCAB)
            members.append(len(texts))
            texts.append(" ".join(words))
        families.append(members)
    while len(texts) < n_docs:
        texts.append(" ".join(fresh_words()))
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: 1 + pos for pos, old in enumerate(order)}
    docs = [(new_id[old], texts[old]) for old in order]
    fams = [sorted(new_id[m] for m in members) for members in families]
    return docs, fams


# -- fingerprint ------------------------------------------------------------
def fingerprint(workload: str, seed: int) -> str:
    """sha256 of a canonical encoding of the workload's generated inputs
    (the first 500 ops of the endless generators)."""
    if workload == "command":
        payload = list(itertools.islice(command_ops(seed), 500))
    elif workload == "project":
        payload = [event_log(seed, 5_000, 400),
                   list(itertools.islice(live_appends(seed, 400), 500))]
    elif workload == "query":
        payload = [documents(seed, 500), list(itertools.islice(query_specs(seed), 500))]
    elif workload == "curate":
        payload = corpus(seed, 600, 30, (2, 5))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    raw = json.dumps(payload, default=str, sort_keys=True).encode()
    return hashlib.sha256(raw).hexdigest()
