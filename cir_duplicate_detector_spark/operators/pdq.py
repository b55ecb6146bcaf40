"""PDQ perceptual-hash fuzzy duplicate detection.

Reference pipeline (``cir_duplicate_detector/pdq_hash.py`` +
``pdq_dup_detect_algorithms/``): explode the per-entry hash lists,
dedup (index, hash), decode hex→256-bit form, run a Hamming-distance
similarity self-join (threshold ``n = round(256*(1-t))`` bits), then
symmetrize matches and aggregate per-entry duplicate/similarity lists.

How the plan is built: each public function here runs ONE ``spark.sql``
statement (see ``operators/statement.py``). Each layer is a function
returning SQL text — hash decode (:func:`_hashes_sql`), one fragment
per pair strategy (:func:`_naive_sql` over :func:`_grid_sql` or
:func:`_scan_sql`, :func:`_banded_sql`, :func:`_bits_sql`) and
symmetrize (:data:`_SYMMETRIZE`) — and :func:`add_pdq_duplicates`
strings them into CTEs, which ``detect_duplicates`` composes with the
URL layer's. One dispatcher (:func:`resolve_plan`) picks the strategy for
every entry point.

Shuffles per layer:

* decode: none — the per-row hash dedup
  (``explode(array_distinct(filter(...)))``) and the decode run in the
  scan tasks;
* naive, no probe set: both sides of the ``(g_i, g_j)`` shuffled hash
  join;
* naive, probed: a round-robin repartition of the corpus; the probe
  rows broadcast;
* banded: both band sides hash-partition on ``(band_id, band_val)``;
  probed, the probe's band rows broadcast and the corpus's stream;
* symmetrize: one, ``GROUP BY index``. It is the only place pairs are
  mirrored and reduced to their minimum distance; no strategy groups
  pairs before it.

Spark-first physical strategies (chosen like the reference's
``duplicate_detection_method`` parameter, ``pdq_hash.py:195-222``):

* ``naive`` — blocked cross join probe×corpus with the codegen'd
  ``sum(bit_count(xor))`` predicate (reference's O(N·M) scan,
  ``naive_duplicate_detector.py:18-36``, distributed by Catalyst;
  probe side broadcast when a probe set restricts it).
* ``banded`` — multi-index-hashing candidate generation: split the
  64-hex hash into k equal bands, equi-join on (band_id, band_value),
  then exact-verify. By pigeonhole a pair at distance <= k-1 shares at
  least one exact band. This is the backend the reference declared but
  never implemented (``mih``, ``pdq_hash.py:218-220``) and the analogue
  of its BK-tree pruning (``bk_tree.py``); it is shuffle-hash-join
  shaped, i.e. the 100 TB-scale path.
* ``auto`` — banded when a band layout covers the bit budget AND is
  selective for the corpus size (one eager count), else naive; mirrors
  the reference's observed crossover (BK-tree wins only for t >~ 0.91,
  reference README.md:88).

``bk-tree`` and ``mih`` are accepted as aliases of ``banded`` for API
compatibility with the reference.
"""

from __future__ import annotations

import logging
import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType

logger = logging.getLogger(__name__)

from ..functions.hashes import (
    HASH_BITS,
    NUM_CHUNKS64,
    bits_hamming_sql,
    calculate_absolute_threshold,
    hex_to_bits_sql,
    hex_to_chunks,
    hex_to_chunks64_sql,
)
from .probes import Probe
from .statement import Statement

# Band layouts over the 64-hex (256-bit) hash: (num_bands, hex_per_band).
# Pigeonhole guarantee: distance <= num_bands - 1 implies >= 1 shared band.
_BAND_LAYOUTS = [(8, 8), (16, 4), (32, 2), (64, 1)]

_METHOD_ALIASES = {
    "naive": "naive",
    "banded": "banded",
    "mih": "banded",
    "bk-tree": "banded",
    "auto": "auto",
}

# Row-time guard for hashes longer than an ASSUMED max_hex_len: the
# chunk decoder left-pads to exactly 64 hex chars, which silently
# LEFT-TRUNCATES anything longer, so a contract violation raises
# instead (one codegen'd length comparison — no extra scan, no job).
_GUARDED_HASH = (
    "CASE WHEN length(hash) <= :max_hex THEN hash ELSE raise_error(concat("
    "'pdq_hash longer than the assumed max_hex_len=', :max_hex,"
    " ' hex chars: ', hash, '; pass find_pdq_hash_duplicates a"
    " max_hex_len (or None to auto-detect) for longer hashes')) END"
)

_H = [f"h{i}" for i in range(NUM_CHUNKS64)]
_HAMMING_TERMS = [f"bit_count(p_h{i} ^ c_h{i})" for i in range(NUM_CHUNKS64)]
_HAMMING = " + ".join(_HAMMING_TERMS)

# Reference P10 (``pdq_hash.py:18-73``) in one shuffle: mirror every
# pair, collect (dup, dist) per index, sort, and keep the first entry
# per dup — the minimum distance, i.e. max similarity (SURVEY §7.4.2).
# Similarity is ``1 - dist/256``, always normalized by 256 regardless of
# hash length (reference ``pdq_hash.py:45``), exact in binary floating
# point so engine and oracle agree bitwise.
_SYMMETRIZE = """SELECT index,
  transform(best, m -> m.dup) AS pdq_hash_duplicates,
  transform(best, m -> 1.0D - CAST(m.dist AS DOUBLE) / 256.0D)
    AS pdq_hash_similarities
FROM (SELECT index, filter(ms, (m, j) ->
        CASE WHEN j = 0 THEN true ELSE ms[j - 1].dup <> m.dup END) AS best
  FROM (SELECT index,
          array_sort(collect_list(named_struct('dup', dup, 'dist', dist))) AS ms
    FROM (SELECT CASE WHEN i = 0 THEN index ELSE dup END AS index,
                 CASE WHEN i = 0 THEN dup ELSE index END AS dup, dist
      FROM pairs LATERAL VIEW explode(array(0, 1)) mirror AS i)
    GROUP BY index))"""


def _explode_sql(rows: str) -> str:
    """SELECT text: ``(index, hash)`` per distinct hash of each row of
    relation ``rows``.

    Reference P3/P4/P6 (``pdq_hash.py:156-179``, ``utils.py:55-87``):
    drop null and empty hashes, explode, drop a hash repeated within one
    row. Empty-string hashes are dropped with the nulls: the reference's
    ``hex_to_binary('')`` returns ``''``, whose padded distance to any
    256-bit hash is 256 — unmatchable at every threshold except the
    degenerate t=0. A hash repeated under one index in DIFFERENT rows (a
    non-unique index) survives; the pairs it adds collapse in
    symmetrize's min-distance step.
    """
    return (
        "SELECT index, explode(array_distinct(filter(pdq_hash,"
        f" h -> h IS NOT NULL AND h != ''))) AS hash FROM {rows}"
    )


def _hashes_sql(rows: str, guard: bool) -> str:
    """SELECT text: ``(index, hash, h0..h3)`` per distinct hash of each
    row of relation ``rows``; ``guard`` adds the row-time length check
    against ``:max_hex``."""
    hash_expr = _GUARDED_HASH if guard else "hash"
    decode = ", ".join(
        f"{e} AS h{i}" for i, e in enumerate(hex_to_chunks64_sql("hash"))
    )
    return (
        f"SELECT index, hash, {decode} FROM (SELECT index, {hash_expr}"
        f" AS hash FROM ({_explode_sql(rows)}))"
    )


def _bits_hashes_sql(rows: str) -> str:
    """SELECT text: ``(index, bits)``, the reference's binary-string form
    of each distinct hash of each row of relation ``rows``."""
    return (
        f"SELECT index, {hex_to_bits_sql('hash')} AS bits"
        f" FROM ({_explode_sql(rows)})"
    )


def exploded_hashes(df: DataFrame) -> DataFrame:
    """(index, hash) pairs: null/empty-drop, explode, per-row dedup
    (:func:`_explode_sql`). This equals the reference's (index, hash)
    literal dedup whenever ``index`` is unique.
    """
    return Statement(views={"work": df}).run(_explode_sql("{work}"))


def drop_literal_series_duplicates(df: DataFrame, subset=None) -> DataFrame:
    """Spark twin of the reference's ``drop_literal_series_duplicates``
    (``utils.py:55-87``): drop rows where BOTH the index and the value
    repeat. The reference reshapes a pandas series through reset_index /
    drop_duplicates / set_index; here it is one ``dropDuplicates`` over
    the given columns (default: all).
    """
    return df.dropDuplicates(subset)


def decoded_hashes(
    df: DataFrame, assert_max_hex: int | None = None
) -> DataFrame:
    """Attach the hash decoding (reference P7): 8×32-bit ``chunks`` array
    (SQL-oracle-friendly form) plus 4 flat 64-bit ``h0..h3`` columns (the
    similarity-join hot path; see
    :func:`..functions.hashes.hex_to_chunks64_sql`). The duplicate
    detector's own statements decode only ``h0..h3``.

    ``assert_max_hex``: when set, a hash LONGER than this raises at row
    time (one codegen'd length comparison — no extra scan, no job).
    The chunk decoder left-pads to exactly 64 hex chars, which silently
    LEFT-TRUNCATES anything longer, so callers that skipped the
    detection scan on the strength of the 256-bit PDQ contract
    (``find_pdq_hash_duplicates``'s ``max_hex_len=64`` default, and
    ``get_pdq_fuzzy_duplicates``) fail loudly if the contract is violated.
    """
    stmt = Statement(views={"work": df})
    if assert_max_hex is not None:
        stmt.args["max_hex"] = assert_max_hex
    decoded = stmt.run(_hashes_sql("{work}", guard=assert_max_hex is not None))
    return decoded.select(
        "index", "hash", hex_to_chunks("hash").alias("chunks"), *_H
    )


def _grid_size(parallelism: int) -> int:
    """Grid axis length: ≥4 cells per core (grid² cells over 2·cores
    shuffle partitions) so cell-count granularity — not the balls-into-
    bins luck of ~1 cell/partition — sets task balance. Replication
    cost per side is grid×; cell build memory shrinks as 1/grid, so at
    a fixed corpus a finer grid trades shuffle bytes for balance +
    bounded build side. At 100 TB callers raise parallelism, and the
    grid follows as √(8·cores)."""
    return max(2, math.isqrt(parallelism * 8))


def _grid_sql(p: str, c: str, grid: int) -> str:
    """Distributed block-nested-loop over SELECT texts ``p`` (columns
    ``p_index``, ...) and ``c`` (``c_index``, ...): every probe row
    meets every corpus row exactly once, with NO broadcast of either
    side.

    Each row hashes to its own block (``crc32(index) % grid``) and is
    replicated across the other axis, so block ``(i, j)`` holds probe
    block ``i`` × corpus block ``j`` — a grid of ``grid²`` independent
    cross products, shuffle-partitioned on the block key. Replication is
    ``grid``× per side (≈√partitions), the textbook BNL trade; nothing
    ever ships to the driver or an executor's broadcast memory, so the
    O(N·M) scan distributes at any corpus size.

    Neither side is repartitioned first, even when a small parquet file
    is one scan partition: the join's own ``(g_i, g_j)`` exchange, which
    the SHUFFLE_HASH hint below keeps, already spreads the O(N·M) work
    over the grid's cells. Only a broadcast of the grid side would leave
    the probe rows in their scan partitions.

    The SHUFFLE_HASH hint pins a shuffled hash join building the corpus
    cell (it wins over AQE's size estimate). Letting AQE broadcast the
    ×grid-replicated corpus is wrong twice over: at scale the
    replicated side is grid× the corpus (guaranteed executor OOM), and
    even when it fits, all of a cell's rows share one join key, so the
    broadcast hash relation degenerates to grid² mega-chains probed
    through one shared cache-hostile map (measured on the 30k-hash
    scan: 10-27 s/run with 3x run-to-run swings vs 6-8 s stable with
    the per-partition build). The shuffled build side is ONE cell
    (~N/grid rows) per task — bounded, local, and exactly the memory
    the BNL math says a task needs.
    """
    return (
        "SELECT /*+ SHUFFLE_HASH(cg) */ * FROM"
        f" (SELECT *, CAST(pmod(crc32(p_index), {grid}) AS INT) AS g_i,"
        f" explode(sequence(0, {grid - 1})) AS g_j"
        f" FROM ({p})) pg"
        f" JOIN (SELECT *, CAST(pmod(crc32(c_index), {grid}) AS INT) AS g_j,"
        f" explode(sequence(0, {grid - 1})) AS g_i FROM ({c})) cg"
        " USING (g_i, g_j)"
    )


def _scan_sql(p: str, c: str, slices: int) -> str:
    """Probe-restricted scan over SELECT texts ``p`` and ``c``: the
    probe rows broadcast and the corpus streams (the reference's
    asymmetric probe/corpus shape, P9). The corpus is repartitioned into
    ``slices`` first: it is never shuffled on this path, so a corpus
    read as one scan partition would otherwise stream through one task."""
    return (
        "SELECT /*+ BROADCAST(pb) */ * FROM"
        f" (SELECT /*+ REPARTITION({slices}) */ * FROM ({c})) cs"
        f" CROSS JOIN ({p}) pb"
    )


def _prefixed(x: str) -> str:
    """Select-list text: ``index`` and ``h0..h3`` renamed with prefix
    ``x``."""
    return f"index AS {x}_index, " + ", ".join(f"{h} AS {x}_{h}" for h in _H)


def _naive_sql(
    p: str, c: str, broadcast_probe: bool, parallelism: int
) -> str:
    """All-pairs scan: probe × corpus, keep dist <= ``:n_bits``, self
    excluded. ``p`` and ``c`` name relations of ``(index, h0..h3)``.

    Physical shape: with a restricted probe set the probe broadcasts
    (:func:`_scan_sql`); the full self-join uses the block-grid join
    (:func:`_grid_sql`) — the O(N²) comparison count is inherent to the
    naive backend, but the memory footprint must not be: broadcasting
    the whole corpus OOMs executors long before the math finishes at
    scale.

    The Hamming filter is cascaded: the cumulative prefix sums
    bit_count(x0) <= n, bit_count(x0)+bit_count(x1) <= n, ... are each
    implied by the full distance bound (bit counts are non-negative),
    and the last conjunct IS the full bound — so the filter is
    semantically identical to ``dist <= n``, but codegen's short-circuit
    AND rejects a random far pair after 1-2 of the 4 xor/bit_count
    terms (at n=26 the first word alone kills ~92% of random pairs;
    measured 4.2 s -> 3.2 s on the 30k-hash grid scan).
    """
    ps = f"SELECT {_prefixed('p')} FROM {p}"
    cs = f"SELECT {_prefixed('c')} FROM {c}"
    if broadcast_probe:
        joined = _scan_sql(ps, cs, 2 * parallelism)
    else:
        joined = _grid_sql(ps, cs, _grid_size(parallelism))
    cascade = " AND ".join(
        " + ".join(_HAMMING_TERMS[: j + 1]) + " <= :n_bits"
        for j in range(NUM_CHUNKS64)
    )
    return (
        f"SELECT p_index AS index, c_index AS dup, {_HAMMING} AS dist"
        f" FROM ({joined}) WHERE p_index <> c_index AND {cascade}"
    )


def _bits_sql(p: str, c: str, broadcast_probe: bool, parallelism: int) -> str:
    """General-length path: hashes longer than 64 hex chars (reference
    ``tests/unit/test_pdq_hash.py:126-146`` — longer hashes still match,
    similarity still normalized by 256). ``p`` and ``c`` name relations
    of ``(index, bits)``, the reference's binary-string form, compared
    with the padded Hamming kernel. Slower than the chunked fast path;
    only selected when long hashes are actually present.
    """
    ps = f"SELECT index AS p_index, bits AS p_bits FROM {p}"
    cs = f"SELECT index AS c_index, bits AS c_bits FROM {c}"
    if broadcast_probe:
        joined = _scan_sql(ps, cs, 2 * parallelism)
    else:
        joined = _grid_sql(ps, cs, _grid_size(parallelism))
    dist = bits_hamming_sql("p_bits", "c_bits")
    return (
        "SELECT index, dup, dist FROM (SELECT p_index AS index, c_index AS dup,"
        f" {dist} AS dist FROM ({joined}) WHERE p_index <> c_index)"
        " WHERE dist <= :n_bits"
    )


def _pick_band_layout(
    n_bits: int, n_hashes: int | None = None
) -> tuple[int, int] | None:
    """Smallest band count whose pigeonhole bound covers ``n_bits``.

    With ``n_hashes`` given, additionally require the layout to be
    SELECTIVE for that corpus size: expected random-collision candidates
    are ~``k·N²/16^w``, so demand ``16^w ≥ 4·k·N`` (≈ N/4 spurious
    candidates total). Without this check a wide threshold (e.g. n=26 →
    32 bands of 8 bits, value space 256) degenerates the candidate join
    to hundreds of millions of pairs — measurably WORSE than the blocked
    cross join. This is the same math wall that makes the reference's
    BK-tree lose to its naive scan below t≈0.91 (README.md:88).
    """
    for k, w in _BAND_LAYOUTS:
        if n_bits <= k - 1:
            if n_hashes is not None and (16 ** w) < 4 * k * max(n_hashes, 1):
                return None  # wider layouts cover n but are even less selective
            return k, w
    return None  # n > 63: no layout covers the bound; caller falls back


def _banded_sql(
    p: str, c: str, layout: tuple[int, int], broadcast_probe: bool
) -> str:
    """MIH candidate join + exact verify. ``p`` and ``c`` name relations
    of ``(index, hash, h0..h3)``.

    Shuffle-hash-join shaped: band rows hash-partition by
    (band_id, band_val), so the candidate join scales out with the
    cluster. Pathological bands are NOT handled: a cluster of K
    near-duplicates (or the all-zero band of near-black images) puts
    K×K candidates per shared band value in one task. AQE's skew split
    cannot help, because it splits partitions by input bytes and the
    band rows are tiny. On a 4-vCPU host, t=0.94 over 4,000 random
    hashes plus one cluster of K=1,000 within 2 bits took 74 s banded
    and 6.9 s naive (ROADMAP.md item 4, near-duplicate clusters).
    With a restricted probe set the probe's band rows broadcast and the
    corpus's stream. Candidates
    are verified inline with the flat codegen Hamming predicate —
    duplicate candidates from multi-band collisions are NOT deduped
    here; symmetrize's min-distance step collapses them.
    """
    k, w = layout

    def bands(rel: str, x: str) -> str:
        return (
            f"SELECT {_prefixed(x)}, posexplode(transform("
            f"sequence(0, {k - 1}), i -> substring(lpad(lower(hash), 64, '0'),"
            f" i * {w} + 1, {w}))) AS (band_id, band_val) FROM {rel}"
        )

    hint = "/*+ BROADCAST(pb) */ " if broadcast_probe else ""
    return (
        f"SELECT {hint}p_index AS index, c_index AS dup, {_HAMMING} AS dist"
        f" FROM ({bands(p, 'p')}) pb JOIN ({bands(c, 'c')}) cb"
        " USING (band_id, band_val)"
        f" WHERE p_index <> c_index AND {_HAMMING} <= :n_bits"
    )


def _check_pdq_column_type(df: DataFrame) -> None:
    """Reference P5 (``pdq_hash.py:165-176``): hash list elements must be
    strings. A typed schema makes this a plan-time check — no job runs.
    """
    dtype = df.schema["pdq_hash"].dataType
    if not (
        isinstance(dtype, ArrayType)
        and isinstance(dtype.elementType, StringType)
    ):
        raise ValueError(
            "`pdq_hash` column must be array<string> (a list of hex hash "
            f"strings); got {dtype.simpleString()}"
        )


@dataclass(frozen=True)
class PdqPlan:
    """Plan-time decisions of one PDQ call."""

    strategy: str  # "naive" | "banded" | "bits"
    n_bits: int
    layout: tuple[int, int] | None  # banded only
    max_hex: int | None  # row-time length guard; None when measured


def resolve_plan(
    df: DataFrame,
    probe: Probe,
    threshold: float,
    duplicate_detection_method: str,
    max_hex_len: int | None,
    caller: str,
) -> PdqPlan:
    """The one PDQ dispatcher: validate the input and parameters, then
    pick the physical strategy.

    ``max_hex_len=None`` measures the longest hash with one eager scan;
    hashes longer than 64 hex take the general binary-string path.
    ``"auto"`` takes banded only when a pigeonhole layout exists AND is
    selective for the corpus size, measured by one eager scan. An
    explicit banded method with no covering layout falls back to naive.
    """
    if "pdq_hash" not in df.columns or "index" not in df.columns:
        raise ValueError(f"{caller} requires `index` and `pdq_hash` columns")
    _check_pdq_column_type(df)
    n_bits = calculate_absolute_threshold(HASH_BITS, threshold)
    method = _METHOD_ALIASES.get(duplicate_detection_method)
    if method is None:
        raise ValueError(
            f"unknown duplicate_detection_method {duplicate_detection_method!r};"
            f" expected one of {sorted(_METHOD_ALIASES)}"
        )
    work = Statement(views={"work": df})
    guard = max_hex_len
    if max_hex_len is None:
        max_hex_len = (
            work.run(
                f"SELECT max(length(hash)) AS m FROM ({_explode_sql('{work}')})"
            ).first()["m"]
            or 0
        )
    if max_hex_len > 64:
        plan = PdqPlan("bits", n_bits, None, None)
    else:
        layout = None
        if method == "auto":
            # One cheap eager scan decides the physical strategy — the
            # same information the reference's user encodes by hand when
            # choosing naive vs bk-tree per the README crossover
            # guidance. sum(size) is an upper bound on the deduped hash
            # count (scan-only); selectivity only needs the order of
            # magnitude.
            n_hashes = (
                work.run(
                    "SELECT sum(size(coalesce(pdq_hash, array()))) AS n"
                    " FROM {work}"
                ).first()["n"]
                or 0
            )
            layout = _pick_band_layout(n_bits, n_hashes)
        elif method == "banded":
            layout = _pick_band_layout(n_bits)
        plan = PdqPlan("banded" if layout else "naive", n_bits, layout, guard)
    # Reference P11 stats logging (`pdq_hash.py:236-255`) — plan-time
    # facts only; execution timing/row counts live in the Spark UI.
    logger.info(
        "%s: threshold=%s -> n_bits=%d, strategy=%s, layout=%s, probed=%s",
        caller,
        threshold,
        n_bits,
        plan.strategy,
        plan.layout,
        probe.active,
    )
    return plan


def add_pdq_pairs(stmt: Statement, probe: Probe, plan: PdqPlan) -> None:
    """Add the pair layer to ``stmt``: CTEs over ``{work}`` ending in
    ``pairs (index, dup, dist)`` — every (probe, corpus) match in that
    direction, possibly repeated. ``stmt`` must come from
    ``probe.statement``."""
    parallelism = stmt.spark.sparkContext.defaultParallelism
    stmt.args["n_bits"] = plan.n_bits
    if plan.max_hex is not None:
        stmt.args["max_hex"] = plan.max_hex

    def decode(rows: str) -> str:
        if plan.strategy == "bits":
            return _bits_hashes_sql(rows)
        return _hashes_sql(rows, guard=plan.max_hex is not None)

    stmt.ctes.append(f"c_hashes AS ({decode('{work}')})")
    p = "c_hashes"
    if probe.active:
        # Restrict the rows before the explode, so only probed rows are
        # decoded for the probe side.
        stmt.ctes.append(f"p_rows AS ({probe.restrict('{work}')})")
        stmt.ctes.append(f"p_hashes AS ({decode('p_rows')})")
        p = "p_hashes"
    if plan.strategy == "bits":
        pairs = _bits_sql(p, "c_hashes", probe.active, parallelism)
    elif plan.strategy == "banded":
        pairs = _banded_sql(p, "c_hashes", plan.layout, probe.active)
    else:
        pairs = _naive_sql(p, "c_hashes", probe.active, parallelism)
    stmt.ctes.append(f"pairs AS ({pairs})")


def add_pdq_duplicates(stmt: Statement, probe: Probe, plan: PdqPlan) -> None:
    """Add the PDQ layer to ``stmt``: the pair CTEs plus ``pdq_result
    (index, pdq_hash_duplicates, pdq_hash_similarities)``."""
    add_pdq_pairs(stmt, probe, plan)
    stmt.ctes.append(f"pdq_result AS ({_SYMMETRIZE})")


def _naive_pairs(
    probe: DataFrame, corpus: DataFrame, n_bits: int, broadcast_probe: bool
) -> DataFrame:
    """Naive ``(index, dup, dist)`` pairs between two decoded-hash frames
    (``index``, ``h0..h3``, as :func:`decoded_hashes` returns them), as
    one statement; see :func:`_naive_sql`."""
    stmt = Statement(
        views={"probe": probe, "corpus": corpus}, args={"n_bits": n_bits}
    )
    parallelism = stmt.spark.sparkContext.defaultParallelism
    return stmt.run(
        _naive_sql("{probe}", "{corpus}", broadcast_probe, parallelism)
    )


def get_pdq_fuzzy_duplicates(
    df: DataFrame,
    pqd_hash_similarity_threshold: float,
    indexes_to_check: list[str] | DataFrame | None = None,
    duplicate_detection_method: str = "naive",
) -> DataFrame:
    """Flat fuzzy-duplicate pairs ``(index, dup, dist)`` — the Spark twin
    of the reference's ``get_pdq_fuzzy_duplicates``
    (``naive_duplicate_detector.py:39-77``), which returns nested
    ``[{'index', 'dist'}]`` lists per probed row. A distributed engine
    returns the same information as a pair DataFrame; self-pairs are
    excluded (the reference's caller strips them immediately,
    ``pdq_hash.py:33-40``). Hashes must be at most 64 hex chars (256
    bits); a longer one raises at row time instead of being truncated.
    Method and probe set resolve exactly as in
    :func:`find_pdq_hash_duplicates`.
    """
    probe = Probe(indexes_to_check)
    plan = resolve_plan(
        df,
        probe,
        pqd_hash_similarity_threshold,
        duplicate_detection_method,
        HASH_BITS // 4,
        "get_pdq_fuzzy_duplicates",
    )
    stmt = probe.statement(df)
    add_pdq_pairs(stmt, probe, plan)
    return stmt.run(
        "SELECT index, dup, min(dist) AS dist FROM pairs GROUP BY index, dup"
    )


def find_pdq_hash_duplicates(
    df: DataFrame,
    indexes_to_check: list[str] | DataFrame | None = None,
    pqd_hash_similarity_threshold: float = 0.2,
    duplicate_detection_method: str = "bk-tree",
    max_hex_len: int | None = 64,
) -> DataFrame:
    """Entries whose PDQ hash is within the similarity threshold of
    another entry's. ``df`` needs ``index`` (unique string) and
    ``pdq_hash`` (``array<string>`` of hex hashes, nullable).

    ``indexes_to_check``: list → one bound array parameter (reference
    shape, small probe sets); DataFrame → broadcast semi-join (probe
    sets that are query outputs; see ``operators/probes.py``). Either
    way the restricted probe side is the broadcast side of the
    similarity join (P9).

    Defaults mirror the reference's inner function
    (``pdq_hash.py:76-81``: t=0.2, method "bk-tree"); note the top-level
    :func:`~cir_duplicate_detector_spark.detect_duplicates` uses t=0.8 and
    "naive", faithfully replicating the reference's inconsistency.

    ``max_hex_len``: longest hash hex length. Defaults to ``64`` — the
    PDQ contract's 256-bit hashes — so no detection scan runs on the
    common path (VERDICT r12 item 2: the eager ``max(length(hash))``
    scan was one extra full pass over the corpus per call at 100 TB).
    Hashes longer than ``max_hex_len`` route to the general
    binary-string path (reference parity: longer hashes match,
    similarity stays normalized by 256) — callers with longer hashes
    pass their length explicitly, or ``None`` to detect it with a
    small eager scan. Under the default, a >64-hex hash failing the
    contract raises AT ROW TIME (a codegen'd length guard) instead of
    being silently left-truncated by the chunk decoder's ``lpad``.
    """
    probe = Probe(indexes_to_check)
    plan = resolve_plan(
        df,
        probe,
        pqd_hash_similarity_threshold,
        duplicate_detection_method,
        max_hex_len,
        "find_pdq_hash_duplicates",
    )
    stmt = probe.statement(df)
    add_pdq_duplicates(stmt, probe, plan)
    return stmt.run("SELECT * FROM pdq_result")
