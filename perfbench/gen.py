"""Seeded archive generator with planted ground truth.

Writes an entries archive (``index`` string, ``url`` string,
``pdq_hash`` array<string>) as parquet and returns the exact
``detect_duplicates`` answer for a given threshold and probe set.

What the archive varies:

* URL groups with heavy-tailed sizes (P(size) ~ size^-2, bounded by
  ``MAX_GROUP``), written as scheme / host-case / fragment variants that
  only URL normalization collapses;
* null url, empty url, null / empty / ``[""]`` / ``[None]`` hash payloads;
* multi-hash "keyframe" entries, some repeating a hash;
* planted PDQ families: a random base hash plus members at fixed Hamming
  distances from it, on both sides of each threshold the benchmark uses
  (51 bits for t=0.8, 15 bits for t=0.94).

Every hash outside a family pair is an independent uniform 256-bit draw,
so a stray match below the threshold has the probability checked by
:func:`assert_planted_is_exact`; the planted pairs are then the whole
answer.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HASH_BITS = 256
MAX_GROUP = 24  # largest URL group
EMPTY_URLS = 5  # entries with url "" (one more group)
FAMILY_SHARE = 0.1  # share of hashes drawn into a planted family

# Member distances from the family base, on both sides of each
# threshold's bit budget n. Members flip independent random bits, so
# two members sit about d1 + d2 apart; :meth:`Archive.truth` uses the
# actual distance of every pair in a family.
WIDE_DISTANCES = (0, 3, 24, 49, 50, 51, 52, 53, 60)  # around n=51 (t=0.8)
TIGHT_DISTANCES = (0, 2, 9, 13, 14, 15, 16, 17, 22)  # around n=15 (t=0.94)

TRUTH_SCHEMA = pa.schema(
    [
        ("index", pa.string()),
        ("url_duplicates", pa.list_(pa.string())),
        ("pdq_hash_duplicates", pa.list_(pa.string())),
        ("pdq_hash_similarities", pa.list_(pa.float64())),
    ]
)


def n_bits(threshold: float) -> int:
    """Bits allowed at a similarity threshold (``round(256*(1-t))``)."""
    return int(round(HASH_BITS * (1 - threshold)))


@dataclass
class Archive:
    index: list[str]
    url: list[str | None]
    url_key: list[str | None]  # normalized url, by construction
    hashes: list[list[str | None] | None]
    families: list[list[tuple[int, int]]]  # [(entry, hash int)] per family
    n_hashes: int

    def write(self, path: Path, files: int) -> None:
        table = pa.table(
            {
                "index": pa.array(self.index, pa.string()),
                "url": pa.array(self.url, pa.string()),
                "pdq_hash": pa.array(self.hashes, pa.list_(pa.string())),
            }
        )
        path.mkdir(parents=True, exist_ok=True)
        step = math.ceil(len(self.index) / files)
        for i in range(files):
            pq.write_table(
                table.slice(i * step, step), path / f"part-{i:03d}.parquet"
            )

    def truth(
        self, threshold: float, probe: set[str] | None
    ) -> dict[str, tuple]:
        """Exact ``detect_duplicates`` output: index -> (url_duplicates,
        pdq_hash_duplicates, pdq_hash_similarities), None where absent."""
        n = n_bits(threshold)
        groups: dict[str, list[str]] = {}
        for idx, key in zip(self.index, self.url_key):
            if key is not None:
                groups.setdefault(key, []).append(idx)
        url_dups: dict[str, list[str]] = {}
        for members in groups.values():
            if len(members) < 2:
                continue
            if probe is not None and not probe.intersection(members):
                continue
            for m in members:
                url_dups[m] = sorted(x for x in members if x != m)

        best: dict[tuple[str, str], int] = {}
        for fam in self.families:
            for i, (ea, ha) in enumerate(fam):
                for eb, hb in fam[i + 1 :]:
                    if ea == eb:
                        continue
                    d = (ha ^ hb).bit_count()
                    if d > n:
                        continue
                    a, b = self.index[ea], self.index[eb]
                    if probe is not None and a not in probe and b not in probe:
                        continue
                    for key in ((a, b), (b, a)):
                        best[key] = min(d, best.get(key, d))
        pdq: dict[str, list[tuple[str, int]]] = {}
        for (a, b), d in best.items():
            pdq.setdefault(a, []).append((b, d))

        out = {}
        for idx in set(url_dups) | set(pdq):
            pairs = sorted(pdq.get(idx, []))
            out[idx] = (
                url_dups.get(idx),
                [b for b, _ in pairs] if pairs else None,
                [1.0 - d / 256.0 for _, d in pairs] if pairs else None,
            )
        return out


def truth_table(truth: dict[str, tuple]) -> pa.Table:
    rows = sorted(truth.items())
    return pa.table(
        {
            "index": [k for k, _ in rows],
            "url_duplicates": [v[0] for _, v in rows],
            "pdq_hash_duplicates": [v[1] for _, v in rows],
            "pdq_hash_similarities": [v[2] for _, v in rows],
        },
        schema=TRUTH_SCHEMA,
    )


def _hex(h: int) -> str:
    return f"{h:064x}"


def _flip(rng: random.Random, base: int, d: int) -> int:
    for bit in rng.sample(range(HASH_BITS), d):
        base ^= 1 << bit
    return base


def _group_sizes(rng: random.Random, n: int, max_group: int) -> list[int]:
    sizes = range(1, max_group + 1)
    weights = [s ** -2.0 for s in sizes]
    out, total = [], 0
    while total < n:
        s = min(rng.choices(sizes, weights)[0], n - total)
        out.append(s)
        total += s
    return out


def _url_variant(rng: random.Random, host: str, rest: str) -> str:
    scheme = rng.choice(("", "http://", "https://", "HTTPS://"))
    if rng.random() < 0.5:
        host = "".join(c.upper() if rng.random() < 0.5 else c for c in host)
    frag = f"#sec{rng.randrange(100)}" if rng.random() < 0.3 else ""
    return f"{scheme}{host}{rest}{frag}"


def generate(seed: int, n_entries: int) -> Archive:
    """Build an archive of ``n_entries`` entries from ``seed``."""
    rng = random.Random(seed)

    # URLs: heavy-tailed groups, each member a raw variant of its key.
    url: list[str | None] = []
    url_key: list[str | None] = []
    for gid, size in enumerate(_group_sizes(rng, n_entries, MAX_GROUP)):
        host = f"www.site{rng.randrange(5000)}.example.org"
        rest = f"/a/{gid}/item?id={rng.randrange(10**6)}"
        for _ in range(size):
            url.append(_url_variant(rng, host, rest))
            url_key.append(host + rest)
    order = list(range(n_entries))
    rng.shuffle(order)
    url = [url[i] for i in order]
    url_key = [url_key[i] for i in order]
    for i in rng.sample(range(n_entries), n_entries // 50):
        url[i] = url_key[i] = None
    for i in rng.sample(range(n_entries), EMPTY_URLS):
        url[i] = url_key[i] = ""

    # Hashes: one per entry, keyframe entries 2-4, some empty payloads.
    families: list[list[tuple[int, int]]] = []
    pending: list[int] = []
    n_hashes = 0

    def next_hash(entry: int) -> int:
        nonlocal pending
        if not pending and rng.random() < FAMILY_SHARE:
            base = rng.getrandbits(HASH_BITS)
            dists = rng.choice((WIDE_DISTANCES, TIGHT_DISTANCES))
            k = rng.randint(2, 4)
            pending = [base] + [
                _flip(rng, base, d) for d in rng.sample(dists, k - 1)
            ]
            families.append([])
        if pending:
            h = pending.pop()
            families[-1].append((entry, h))
            return h
        return rng.getrandbits(HASH_BITS)

    hashes: list[list[str | None] | None] = []
    for e in range(n_entries):
        r = rng.random()
        if r < 0.02:
            hashes.append(None)
        elif r < 0.03:
            hashes.append(rng.choice(([], [""], [None])))
        elif r < 0.09:
            hs = [_hex(next_hash(e)) for _ in range(rng.randint(2, 4))]
            if rng.random() < 0.2:
                hs.append(hs[0])
            n_hashes += len(set(hs))
            hashes.append(hs)
        else:
            hashes.append([_hex(next_hash(e))])
            n_hashes += 1

    return Archive(
        index=[f"E{i:07d}" for i in range(n_entries)],
        url=url,
        url_key=url_key,
        hashes=hashes,
        families=families,
        n_hashes=n_hashes,
    )


def assert_planted_is_exact(n_hashes: int, threshold: float) -> float:
    """Union bound on any unplanted pair matching at ``threshold``.

    Hashes from different families (or unplanted) are independent
    uniform draws, so their distance is Binomial(256, 1/2). Raises if
    the chance that ANY such pair lands within the threshold is not
    negligible; returns that bound."""
    n = n_bits(threshold)
    p_pair = sum(math.comb(HASH_BITS, k) for k in range(n + 1)) / 2**HASH_BITS
    bound = p_pair * n_hashes * (n_hashes - 1) / 2
    if bound > 1e-9:
        raise ValueError(
            f"{n_hashes} random hashes may collide within {n} bits "
            f"(union bound {bound:.2e}); planted truth would not be exact"
        )
    return bound
