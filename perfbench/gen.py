"""Seeded input generator for the benchmark workloads.

Everything here is plain Python driven by ``random.Random`` streams derived
from one ``--seed``: the same seed yields byte-identical inputs. Nothing
imports Spark, so the program under test receives only what these
functions return.

Listing coordinates are urban-skewed: most points cluster around a
handful of Costa Rican city centres (the reference platform's market),
the rest spread over the country's bounding box.
"""

from __future__ import annotations

import hashlib
import json
import random
from datetime import datetime, timedelta, timezone

PROVIDERS = ("encuentra24", "remax_cr", "coldwell_cr", "century21_cr")

# (lat, lon, weight, sigma in degrees)
CITIES = (
    (9.9333, -84.0833, 0.40, 0.035),  # San José
    (10.0024, -84.1165, 0.14, 0.020),  # Heredia
    (10.0163, -84.2116, 0.12, 0.022),  # Alajuela
    (9.8644, -83.9194, 0.09, 0.018),  # Cartago
    (10.6346, -85.4407, 0.07, 0.025),  # Liberia
    (9.9907, -83.0360, 0.05, 0.020),  # Limón
)
URBAN_SHARE = 0.85
BBOX = (8.4, 11.1, -85.8, -82.7)  # lat_lo, lat_hi, lon_lo, lon_hi
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

_WORDS = (
    "casa apartamento lote quinta condominio vista jardin piscina terraza "
    "amplia moderna centrica segura tranquila familiar lujo oportunidad "
    "montana playa ciudad barrio residencial comercial nueva remodelada"
).split()
_FEATURE_KEYS = ("pool", "garage", "garden", "security", "furnished", "view", "ac")


def _rng(seed: int, stream: str) -> random.Random:
    """An independent stream per purpose, so adding draws to one workload
    never shifts another workload's inputs."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def point(rng: random.Random) -> tuple[float, float]:
    if rng.random() < URBAN_SHARE:
        r, acc = rng.random(), 0.0
        total = sum(c[2] for c in CITIES)
        for lat, lon, w, sigma in CITIES:
            acc += w / total
            if r <= acc:
                break
        return lat + rng.gauss(0.0, sigma), lon + rng.gauss(0.0, sigma)
    return rng.uniform(BBOX[0], BBOX[1]), rng.uniform(BBOX[2], BBOX[3])


def ts_text(epoch_s: int) -> str:
    return (EPOCH + timedelta(seconds=epoch_s)).strftime("%Y-%m-%d %H:%M:%S")


# --------------------------------------------------------------------------
# ingest_sync: provider listings and their per-sync change schedule
# --------------------------------------------------------------------------
def canonical_features(features: dict) -> str:
    """``json.dumps(features, sort_keys=True)`` — the reference's form."""
    return json.dumps(features, sort_keys=True)


def listing_hash(row: dict) -> str:
    """The program's P9 content hash, restated from its specification:
    sha256 of ``title|price|currency|sqm|lat|lng|features_json``."""
    payload = "|".join(
        [row["title"], row["price_raw"], row["currency_raw"], row["sqm_raw"],
         row["lat"], row["lng"], canonical_features(row["features"])]
    )
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


class ListingFeed:
    """Per-provider listing sets that evolve one sync at a time.

    ``sync(i)`` returns the full re-fetched listing set of the provider
    whose turn it is: mostly unchanged rows, plus edits (content and
    ``modified_gmt`` change), touches (``modified_gmt`` moves, content does
    not), new rows (a few of them drafts the loader filters out) and
    removals (absent from the fetch)."""

    EDIT, TOUCH, NEW, REMOVE = 0.05, 0.01, 0.04, 0.02

    def __init__(self, seed: int, per_provider: int):
        self.rng = _rng(seed, "listings")
        self.clock = 0  # seconds after EPOCH, only ever moves forward
        self.next_id = {p: 0 for p in PROVIDERS}
        self.live: dict[str, dict[str, dict]] = {p: {} for p in PROVIDERS}
        for p in PROVIDERS:
            for _ in range(per_provider):
                self._add(p, status="publish")

    def _tick(self) -> int:
        self.clock += self.rng.randint(61, 3600)
        return self.clock

    def _content(self) -> dict:
        rng = self.rng
        lat, lon = point(rng)
        usd = rng.random() < 0.7
        amount = rng.randint(40, 900) * 1000 if usd else rng.randint(30, 400) * 1_000_000
        style = rng.randrange(3)
        if style == 0:
            price = f"${amount:,}"
        elif style == 1:
            price = f"{amount:,}".replace(",", ".") + ",00"
        else:
            price = str(amount)
        keys = rng.sample(_FEATURE_KEYS, rng.randint(0, 4))
        return {
            "title": " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 8))).capitalize(),
            "price_raw": price,
            "currency_raw": "USD" if usd else rng.choice(["CRC", "crc", ""]),
            "sqm_raw": f"{rng.randint(40, 2000)} m2",
            "bedrooms_raw": str(rng.randint(1, 6)),
            "bathrooms_raw": f"{rng.randint(1, 5)}.{rng.choice([0, 5])}",
            "lat": f"{lat:.6f}",
            "lng": f"{lon:.6f}",
            "features": {k: str(rng.randint(1, 3)) for k in sorted(keys)},
        }

    def _add(self, provider: str, status: str) -> None:
        ext = f"{provider}-{self.next_id[provider]:07d}"
        self.next_id[provider] += 1
        row = {"external_id": ext, **self._content(), "status": status,
               "modified_gmt": ts_text(self._tick())}
        self.live[provider][ext] = row

    def initial_rows(self) -> list[tuple[str, dict]]:
        return [(p, dict(r)) for p in PROVIDERS for r in self.live[p].values()]

    def sync(self, i: int) -> tuple[str, list[dict]]:
        """Advance provider ``PROVIDERS[i % n]`` by one change round and
        return ``(provider, full listing set)``."""
        provider = PROVIDERS[i % len(PROVIDERS)]
        rng, live = self.rng, self.live[provider]
        for ext in sorted(live):
            row = live[ext]
            r = rng.random()
            if r < self.REMOVE:
                del live[ext]
            elif r < self.REMOVE + self.EDIT:
                fresh = self._content()
                field = rng.choice(["title", "price_raw", "features", "sqm_raw"])
                row[field] = fresh[field]
                row["modified_gmt"] = ts_text(self._tick())
            elif r < self.REMOVE + self.EDIT + self.TOUCH:
                row["modified_gmt"] = ts_text(self._tick())
        n_new = max(1, round(len(live) * self.NEW))
        for _ in range(n_new):
            self._add(provider, status="draft" if rng.random() < 0.1 else "publish")
        return provider, [dict(r) for r in live.values()]


def envelope(provider: str, rows: list[dict], sync_no: int) -> dict:
    """The staging file one provider sync writes (`{metadata, properties}`)."""
    return {
        "metadata": {"client_id": provider, "site": provider,
                     "timestamp": ts_text(sync_no), "total_count": len(rows)},
        "properties": rows,
    }


# --------------------------------------------------------------------------
# rag_query: corpus, edits and the request mix
# --------------------------------------------------------------------------
class Corpus:
    """Documents of 2-5 paragraphs (pages, split on blank lines) drawn
    from topic vocabularies with Zipf-like skew, edited in place."""

    def __init__(self, seed: int, n_docs: int, vocab: int = 3000, topics: int = 24):
        self.rng = _rng(seed, "corpus")
        rng = self.rng
        syll = ["ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "pa", "gu", "ze", "ri", "mo"]
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < vocab:
            w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        self.topics = [rng.sample(words, 120) for _ in range(topics)]
        self.docs: dict[int, list[str]] = {}
        for doc_id in range(n_docs):
            topic = rng.randrange(topics)
            self.docs[doc_id] = [self._para(topic) for _ in range(rng.randint(2, 5))]

    def _word(self, pool: list[str]) -> str:
        # Zipf-ish: the head of each pool is drawn far more often
        return pool[min(int(self.rng.paretovariate(1.1)) - 1, len(pool) - 1)]

    def _para(self, topic: int) -> str:
        rng = self.rng
        n = rng.randint(25, 70)
        return " ".join(
            self._word(self.topics[topic]) if rng.random() < 0.7 else self._word(self.words)
            for _ in range(n)
        )

    def text(self, doc_id: int) -> str:
        return "\n\n".join(self.docs[doc_id])

    def edit(self, n_docs: int) -> list[int]:
        """Rewrite one paragraph in each of ``n_docs`` documents (always a
        real change; page count kept) and return the edited ids. One in
        four edits hits a query document (doc_id < 5)."""
        rng = self.rng
        ids: set[int] = set()
        while len(ids) < n_docs:
            ids.add(rng.randrange(5) if rng.random() < 0.25 else rng.randrange(len(self.docs)))
        for doc_id in sorted(ids):
            paras = self.docs[doc_id]
            k = rng.randrange(len(paras))
            old = paras[k]
            while paras[k] == old:
                paras[k] = self._para(rng.randrange(len(self.topics)))
        return sorted(ids)


def rag_requests(seed: int, upsert_every: int, n_queries: int):
    """Endless request stream opening with an upsert, then
    ``upsert_every - 1`` queries ``("query", n_queries)`` per upsert
    ``("upsert", n_docs)``. The fixed rhythm and query count keep the
    read/write mix the same in every run, however few requests it holds;
    upsert sizes and which documents they edit (query documents among
    them) are seeded."""
    rng = _rng(seed, "rag_requests")
    i = 0
    while True:
        if i % upsert_every == 0:
            yield ("upsert", rng.randint(3, 8))
        else:
            yield ("query", n_queries)
        i += 1
