"""Seeded input generators and their replay oracles.

Everything a workload feeds the engine is made here from ``--seed`` alone,
and each generator keeps the Python state needed to check the engine's
output: the CDC stream replays itself into the expected Silver and Gold,
and the corpus stream remembers which documents it planted as copies.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import math
import os
import random
import string

N_COUNTRIES = 40
_EPOCH = _dt.datetime(2024, 1, 1)


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def land(records: list[str], staging_dir: str, landing_dir: str, name: str) -> str:
    """Write NDJSON lines to a staging file, then rename it into the landing
    directory in one step, so the reader never sees a partial file. Returns
    the landed path; the caller starts its clock right after this returns."""
    os.makedirs(staging_dir, exist_ok=True)
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "w") as f:
        f.write("\n".join(records))
        f.write("\n")
    dest = os.path.join(landing_dir, name)
    os.rename(tmp, dest)
    return dest


# ---------------------------------------------------------------- CDC


class CdcStream:
    """CDC records for the medallion pipeline, plus a replay of them.

    Each batch after the preload holds ``batch_size`` records: ~30% UPDATE
    and ~10% DELETE of live ids, ~5% verbatim re-deliveries of records from
    the previous batch, the rest INSERTs of new ids. Countries are skewed
    (Zipf over 40 keys). ``cdc_timestamp`` rises strictly with each record,
    so "latest wins" is generation order. An id appears at most once per
    batch among the fresh records, and a re-delivered record's id is not
    touched again in the batch that re-delivers it, so every re-delivery is
    a no-op under the pipeline's hash and order guards."""

    UPDATE_SHARE, DELETE_SHARE, DUP_SHARE = 0.30, 0.10, 0.05

    def __init__(self, seed: int, batch_size: int):
        self.rng = random.Random(seed)
        self.batch_size = batch_size
        self.countries = [f"Country_{i:02d}" for i in range(N_COUNTRIES)]
        self._cw = _zipf_weights(N_COUNTRIES, 1.1)
        self.live: dict[int, tuple[str, str, int]] = {}
        self._ids: list[int] = []
        self._pos: dict[int, int] = {}
        self._next_id = 0
        self._clock_ms = 0
        self._prev: list[tuple[int, str]] = []  # (id, json line) of last batch

    # live-id set with O(1) random pick and removal
    def _add(self, i: int, val: tuple[str, str, int]) -> None:
        if i not in self.live:
            self._pos[i] = len(self._ids)
            self._ids.append(i)
        self.live[i] = val

    def _remove(self, i: int) -> None:
        del self.live[i]
        p = self._pos.pop(i)
        last = self._ids.pop()
        if last != i:
            self._ids[p] = last
            self._pos[last] = p

    def _record(self, i: int, op: str) -> str:
        rng = self.rng
        self._clock_ms += 1 + rng.randrange(3)
        if op == "DELETE":
            country, district, visitors = self.live[i]
        else:
            country = rng.choices(self.countries, self._cw)[0]
            district = f"District_{rng.randrange(200)}"
            visitors = rng.randrange(1, 1000)
        cdc_ts = _EPOCH + _dt.timedelta(milliseconds=self._clock_ms)
        visit_ts = _EPOCH + _dt.timedelta(seconds=rng.randrange(86400 * 30))
        line = json.dumps(
            {
                "id": i,
                "country": country,
                "district": district,
                "visit_timestamp": visit_ts.strftime("%Y-%m-%d %H:%M:%S"),
                "num_visitors": visitors,
                "cdc_operation": op,
                "cdc_timestamp": cdc_ts.strftime("%Y-%m-%d %H:%M:%S.")
                + f"{cdc_ts.microsecond // 1000:03d}",
            },
            separators=(",", ":"),
        )
        if op == "DELETE":
            self._remove(i)
        else:
            self._add(i, (country, district, visitors))
        return line

    def preload(self, n: int) -> list[str]:
        out = []
        for _ in range(n):
            out.append(self._record(self._next_id, "INSERT"))
            self._next_id += 1
        self._prev = []
        return out

    def next_batch(self) -> list[str]:
        rng, n = self.rng, self.batch_size
        n_upd = int(n * self.UPDATE_SHARE)
        n_del = int(n * self.DELETE_SHARE)
        n_dup = min(int(n * self.DUP_SHARE), len(self._prev))
        n_ins = n - n_upd - n_del - n_dup
        dups = rng.sample(self._prev, n_dup)
        dup_ids = {i for i, _ in dups}
        picked = [
            i
            for i in rng.sample(self._ids, min(len(self._ids), n_upd + n_del + n_dup))
            if i not in dup_ids
        ][: n_upd + n_del]
        ops = [(i, "UPDATE") for i in picked[:n_upd]]
        ops += [(i, "DELETE") for i in picked[n_upd:]]
        for _ in range(n_ins):
            ops.append((self._next_id, "INSERT"))
            self._next_id += 1
        rng.shuffle(ops)
        fresh = [(i, self._record(i, op)) for i, op in ops]
        lines = [line for _, line in fresh] + [line for _, line in dups]
        rng.shuffle(lines)
        self._prev = fresh
        return lines

    def expected_gold(self) -> dict[str, int]:
        gold: dict[str, int] = {}
        for country, _, visitors in self.live.values():
            gold[country] = gold.get(country, 0) + visitors
        return gold

    def lookup_range(self, width: int) -> tuple[int, int]:
        """An id range [lo, hi) of ``width`` ids inside the ids issued so far."""
        lo = self.rng.randrange(max(1, self._next_id - width))
        return lo, lo + width

    def expected_range(self, lo: int, hi: int) -> dict[int, tuple[str, str, int]]:
        return {i: v for i in range(lo, hi) if (v := self.live.get(i)) is not None}


def gold_matches(got: dict[str, int], want: dict[str, int]) -> bool:
    """Gold keeps a row for a country whose live ids are all gone (its sum
    is then 0); the replay has no such row. Otherwise they are equal."""
    return all(got.get(k) == v for k, v in want.items()) and all(
        v == 0 for k, v in got.items() if k not in want
    )


# ---------------------------------------------------------------- corpus


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = rng.randint(3, 9)
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(k)))
    return sorted(words)


STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with"]


class CorpusStream:
    """Batches of generated documents with planted duplicates.

    The shape of the traffic is taken from the repository's ``documents``
    fixture (all three scales, sf0.001 to sf0.1): 4.8% of its documents
    are copies of an earlier document (24 of 500, 24 of 500, 236 of
    5,000, at 3-word-shingle Jaccard >= 0.8), those copies have Jaccard
    0.89-0.99 with their original, which is what one edited word does to a
    document of 10-100 words, and documents run 10-100 words. So 4.8% of
    each batch are copies of earlier fresh documents and the rest are fresh
    10-100-word documents. The fixture's own copies are almost all edits
    (8 of 5,000 documents are verbatim); a third of the planted copies are
    verbatim instead, so each 250-document batch gives the removal check
    four cases. That split, the 4,000-word vocabulary (large enough
    that no two fresh documents come near each other) and the Zipf
    exponent of 1 (Zipf's law for word frequencies) are choices, not
    measurements. Verbatim copies come from earlier batches or earlier in
    the same batch, edits from earlier batches. The curation step must drop
    every verbatim copy and keep every fresh document; what it does with
    an edited copy is its own policy."""

    COPY_SHARE = 0.048
    VERBATIM_SHARE = COPY_SHARE / 3
    EDIT_SHARE = COPY_SHARE - VERBATIM_SHARE
    WORDS = (10, 100)

    def __init__(self, seed: int, batch_size: int):
        self.rng = random.Random(seed)
        self.batch_size = batch_size
        # stopwords first, so the Zipf ranks make them the commonest words
        self.vocab = STOPWORDS + _vocabulary(self.rng, 4000)
        self._cum = list(itertools.accumulate(_zipf_weights(len(self.vocab), 1.0)))
        self.texts: dict[int, str] = {}  # fresh documents
        self.verbatim: set[int] = set()
        self.edited: dict[int, str] = {}  # one-word edits
        self._next_id = 0
        self.query_terms = self.vocab[50:53]

    def _fresh_text(self) -> str:
        n = self.rng.randint(*self.WORDS)
        return " ".join(self.rng.choices(self.vocab, cum_weights=self._cum, k=n))

    def next_batch(self) -> list[str]:
        rng, n = self.rng, self.batch_size
        earlier = list(self.texts) if self.texts else []
        n_edit = round(n * self.EDIT_SHARE) if earlier else 0
        n_verb = round(n * self.VERBATIM_SHARE)
        kinds = ["edit"] * n_edit + ["verbatim"] * n_verb
        kinds += ["fresh"] * (n - len(kinds))
        rng.shuffle(kinds)
        lines, batch_fresh = [], []
        for kind in kinds:
            i = self._next_id
            self._next_id += 1
            if kind == "verbatim" and (earlier or batch_fresh):
                same_batch = batch_fresh and (not earlier or rng.random() < 0.5)
                text = self.texts[rng.choice(batch_fresh if same_batch else earlier)]
                self.verbatim.add(i)
            elif kind == "edit":
                words = self.texts[rng.choice(earlier)].split(" ")
                j = rng.randrange(len(words))
                w = words[j]
                while w == words[j]:
                    w = rng.choice(self.vocab)
                words[j] = w
                text = " ".join(words)
                self.edited[i] = text
            else:
                text = self._fresh_text()
                self.texts[i] = text
                batch_fresh.append(i)
            lines.append(json.dumps({"doc_id": i, "text": text}, separators=(",", ":")))
        return lines

    def check_ids(self, kept: set[int]) -> list[str]:
        """Problems with a set of curated doc ids: verbatim copies kept, or
        fresh documents dropped."""
        bad = []
        if kept & self.verbatim:
            bad.append(f"{len(kept & self.verbatim)} verbatim copies kept")
        missing = [i for i in self.texts if i not in kept]
        if missing:
            bad.append(f"{len(missing)} fresh documents dropped")
        return bad

    def check_range(self, lo: int, hi: int, got: set[int]) -> bool:
        """A curated id-range lookup keeps every fresh id in [lo, hi) and no
        verbatim copy."""
        return all(i in got for i in range(lo, hi) if i in self.texts) and not (
            got & self.verbatim
        )

    def lookup_range(self, width: int) -> tuple[int, int]:
        lo = self.rng.randrange(max(1, self._next_id - width))
        return lo, lo + width


def bm25_oracle(
    docs: dict[int, str], terms: list[str], k: int, k1: float = 1.2, b: float = 0.75
) -> list[tuple[int, int]]:
    """(doc_id, score in micro-units) of the top ``k`` documents, scored the
    way ``operators.text.bm25_topk`` documents it: per-term contributions
    rounded to micro-units before the per-document sum."""
    qs = set(terms)
    lens, tfs = {}, {}
    for d, text in docs.items():
        toks = text.split()
        if not toks:
            continue
        lens[d] = len(toks)
        tf = {}
        for t in toks:
            if t in qs:
                tf[t] = tf.get(t, 0) + 1
        if tf:
            tfs[d] = tf
    n = len(lens)
    avgdl = sum(lens.values()) / n
    dfreq: dict[str, int] = {}
    for tf in tfs.values():
        for t in tf:
            dfreq[t] = dfreq.get(t, 0) + 1
    scores = []
    for d, tf in tfs.items():
        s = 0
        for t, c in tf.items():
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            x = idf * (c * (k1 + 1.0)) / (c + k1 * ((1.0 - b) + b * lens[d] / avgdl))
            s += int(math.floor(x * 1e6 + 0.5))
        scores.append((d, s))
    scores.sort(key=lambda ds: (-ds[1], ds[0]))
    return scores[:k]
