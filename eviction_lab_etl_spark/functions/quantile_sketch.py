"""Deterministic mergeable quantile summary (Munro-Paterson / MRL-style
compactor), the quantile member of the mergeable-sketch family next to HLL
(sketch_hll_partitioned), Misra-Gries (sketch_heavy_hitters) and Count-Min
(sketch_countmin).

Structure: a stack of levels, each a buffer of at most ``k`` values where
level ``l`` holds values of weight ``2**l``. Inserts land in level 0; a full
level sorts itself and promotes HALF its values (every other element) to the
next level at doubled weight. DETERMINISTIC by construction — no random
offset (the classic KLL coin flip); instead the surviving parity alternates
per compaction, which keeps the systematic bias of always-even selection
from accumulating while preserving replayability. A summary is the multiset
of (value, weight) pairs across levels; total weight is EXACTLY the number
of inserted values (compaction halves the count and doubles the weight), so
``n`` is recoverable from any summary or merge of summaries.

Error: one compaction at weight ``w`` shifts any rank by at most ``w``;
level ``l`` compacts at most ``ceil(n / (k * 2**l))`` times, so the absolute
rank error of any quantile estimate is bounded by ``sum_l n/(k*2**l) * 2**l
= n * L / k`` with ``L <= log2(n/k) + 2`` levels — with ``k = 256`` that is
under 5 %% of ``n`` for any stream up to ~1.8 M values, and the alternating
parity keeps the observed error far below the bound (hypothesis-tested over
random streams, random splits, and random merge orders in
tests/test_library.py). Merging is buffer concatenation level-by-level plus
the same compaction rule, so summaries built per partition / per file / per
day roll up without touching the data again — the stored-intermediate
contract that lets a 100 TB deployment keep per-shard quantile summaries
and answer global percentiles from kilobytes."""

from __future__ import annotations

K_DEFAULT = 256


class CompactorSketch:
    """The summary as a list of per-level Python lists (level l = weight
    2**l). Kept dependency-light: buffers are plain lists, sort is
    Timsort — the per-item cost is dominated by Arrow batch handling in
    the callers anyway."""

    def __init__(self, k: int = K_DEFAULT) -> None:
        if k < 2 or k % 2:
            raise ValueError(f"k must be an even integer >= 2, got {k}")
        self.k = k
        self.levels: list[list[int]] = [[]]
        self.parity: list[int] = [0]

    def _compact(self, lvl: int) -> None:
        buf = sorted(self.levels[lvl])
        # An odd-sized buffer keeps its max behind (deterministic) so the
        # promoted half pairs up exactly: 2*promoted + leftover == len(buf)
        # — total weight is conserved to the item, which is what makes
        # n == total_weight() exact.
        leftover = []
        if len(buf) % 2:
            leftover = [buf[-1]]
            buf = buf[:-1]
        if lvl + 1 == len(self.levels):
            self.levels.append([])
            self.parity.append(0)
        keep_from = self.parity[lvl]
        self.parity[lvl] ^= 1
        self.levels[lvl + 1].extend(buf[keep_from::2])
        self.levels[lvl] = leftover
        if len(self.levels[lvl + 1]) >= self.k:
            self._compact(lvl + 1)

    def insert(self, value: int) -> None:
        self.levels[0].append(value)
        if len(self.levels[0]) >= self.k:
            self._compact(0)

    def insert_weighted(self, value: int, weight: int) -> None:
        """Merge entry point: route a (value, weight=2**l) pair into its
        native level."""
        lvl = weight.bit_length() - 1
        if weight != 1 << lvl:
            raise ValueError("weights must be powers of two")
        while lvl >= len(self.levels):
            self.levels.append([])
            self.parity.append(0)
        self.levels[lvl].append(value)
        if len(self.levels[lvl]) >= self.k:
            self._compact(lvl)

    def summary(self) -> list[tuple[int, int]]:
        """All (value, weight) pairs; sum of weights == items inserted."""
        out: list[tuple[int, int]] = []
        for lvl, buf in enumerate(self.levels):
            w = 1 << lvl
            out.extend((v, w) for v in buf)
        return out

    def total_weight(self) -> int:
        return sum(w for _, w in self.summary())

    def rank_query(self, target_rank: int) -> int:
        """Smallest summary value whose cumulative weight reaches
        ``target_rank`` (1-based). Precondition: the summary is non-empty
        (``total_weight() > 0``) — a quantile of zero values is undefined,
        so an empty state (no inserts, or a merge of all-empty partials,
        e.g. an all-empty-partition corpus) raises instead of crashing with
        a bare IndexError deep in the pairs list."""
        pairs = sorted(self.summary())
        if not pairs:
            raise ValueError(
                "rank_query on an empty summary (no values inserted/merged);"
                " check total_weight() > 0 before querying"
            )
        cum = 0
        for v, w in pairs:
            cum += w
            if cum >= target_rank:
                return v
        return pairs[-1][0]


def summarize_values(values, k: int = K_DEFAULT) -> list[tuple[int, int]]:
    sk = CompactorSketch(k)
    for v in values:
        sk.insert(int(v))
    return sk.summary()


def merge_summaries(pairs, k: int = K_DEFAULT) -> list[tuple[int, int]]:
    """Merge any iterable of (value, weight) rows — from one summary or
    many — into one compacted summary. Weight-routing + the same
    compaction rule; order-insensitive up to the documented rank bound."""
    sk = CompactorSketch(k)
    for v, w in pairs:
        sk.insert_weighted(int(v), int(w))
    return sk.summary()
