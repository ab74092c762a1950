"""Vectorized predicate fold over block statistics — the file-skipping core.

Reproduces the semantics of the reference's fold algebra
(ParquetIndexFilters.scala:52-137) and per-type statistics boundary rules
(ColumnStatistics.scala:26-159):

- a file survives iff ANY of its blocks might match (per-block OR,
  ParquetIndexFilters.scala:29-46);
- a file with zero blocks (empty parquet) is always skipped (ibid:42-45);
- Eq/In consult min/max then, if present, the membership filter
  (ibid:54-75);
- Gt matches iff max > v; Ge iff max >= v; Lt iff min < v; Le iff min <= v
  (the open/closed boundary rules of ibid:80-101);
- blocks known to be all-null (`has_stats == False` AND `nulls == rows`)
  fail every comparison (ColumnStatistics.scala:165-206, the `isSet`
  guard — the reference's stats always come from data scans, so isSet
  False *means* all-null there);
- blocks with NO stats but possibly non-null data (`has_stats == False`,
  `nulls != rows` — e.g. a parquet file written with statistics disabled,
  seen only by the footer fast path) pass every comparison: pruning them
  would be unsound;
- predicates on unindexed columns and unsupported shapes fold to
  "scan" (ibid:128-136).

The lattice is written once (`_fold`) and runs on two backends. Here,
`_BlockOps` answers with numpy bool arrays: one *vectorized* pass over all
blocks of all files instead of the reference's per-file future pool
(ParquetIndex.scala:158-185) — at 100 TB the metadata is millions of rows
and per-file Python loops would dominate query latency.
`pruning_spark._ColumnOps` answers with Spark Columns over the pivoted
stats parquet, for metadata that outgrows the driver.

Negation is handled soundly by push-down (see predicates.push_not_down) —
deliberate divergence from ParquetIndexFilters.scala:118-123.
"""

from __future__ import annotations

import datetime
from typing import Callable, Dict, List, Optional

import numpy as np

from parquet_index_spark import predicates as P
from parquet_index_spark import types as ityp


class ColumnBlockStats:
    """Aligned per-block stats arrays for one indexed (or partition) column."""

    __slots__ = ("kind", "has", "nulls", "min_l", "max_l", "min_s", "max_s")

    def __init__(self, kind: str, has: np.ndarray, nulls: np.ndarray,
                 min_l: Optional[np.ndarray], max_l: Optional[np.ndarray],
                 min_s: Optional[np.ndarray], max_s: Optional[np.ndarray]):
        self.kind = kind
        self.has = has          # bool[n]: min/max present (not all-null)
        self.nulls = nulls      # int64[n]: null count, -1 => unknown
        self.min_l = min_l      # int64[n] (long-space) or None for strings
        self.max_l = max_l
        if min_s is not None:
            # statless blocks' string bounds fill with "" once, so every
            # comparison runs in numpy's C loop; `has` masks those
            # blocks in every rule of the fold
            min_s = np.where(np.equal(min_s, None), "", min_s)
            max_s = np.where(np.equal(max_s, None), "", max_s)
        self.min_s = min_s      # object[n] of str or None for numerics
        self.max_s = max_s


class BlockStatsContext:
    """All blocks of a table, columnar; the pruner's evaluation context."""

    def __init__(self, n_blocks: int, rows: np.ndarray, file_ids: np.ndarray,
                 file_paths: List[str],
                 columns: Dict[str, ColumnBlockStats],
                 membership_loader: Optional[Callable[[str], Optional[list]]] = None):
        self.n = n_blocks
        self.rows = rows            # int64[n]
        self.file_ids = file_ids    # int64[n] index into file_paths
        self.file_paths = file_paths
        self.columns = columns
        # membership_loader(col) -> list[MembershipFilter|None] aligned with
        # blocks, or None when the column has no filter statistics. Lazy:
        # only invoked when an Eq/In actually needs it (reference lazy
        # readData, ColumnFilterStatistics.scala:122-135).
        self._membership_loader = membership_loader
        self._membership_cache: Dict[str, Optional[list]] = {}

    def membership(self, column: str):
        """-> ColumnMembership | None. Loader results are normalized: a
        per-block MembershipFilter list (test fixtures) converts once."""
        if column not in self._membership_cache:
            loader = self._membership_loader
            loaded = loader(column) if loader else None
            if isinstance(loaded, list):
                from parquet_index_spark.statistics import ColumnMembership
                loaded = ColumnMembership.from_filters(loaded)
                if not loaded.has_filter.any():
                    loaded = None
            self._membership_cache[column] = loaded
        return self._membership_cache[column]


def _norm_literal(value, kind: str, tz: str = None):
    """Literal → stat space; None on un-coercible literal (=> scan).

    ``tz`` is the Spark session timezone: TIMESTAMP-kind (instant) naive
    literals are localized through it so the fold compares the same instant
    the residual filter evaluates (sound under any session timezone).

    A datetime against a DATE column is un-coercible: Spark compares the
    two as timestamps, the date widened to its midnight, so
    ``d < TIMESTAMP '2000-01-05 12:00:00'`` keeps d = 2000-01-05, which
    the day 2000-01-05 in stat space would prune."""
    if kind == ityp.DATE and isinstance(value, datetime.datetime):
        return None
    try:
        return ityp.literal_to_stat_value(value, kind, tz)
    except (TypeError, ValueError, KeyError):
        return None


def statless(has, nulls, rows):
    """Blocks with no min/max that are NOT known all-null: footer-path
    files written with statistics disabled (nulls == -1), or footers
    carrying a null count but no min/max (0 <= nulls < rows). They might
    hold any value: pruning them would drop real rows."""
    return ~has & (nulls != rows)


# Each comparison as its (may-match, full-match) test over a block's
# [mn, mx] bounds and the normalized literal v. `_fold` wraps them in the
# two guards every comparison shares: may-match also keeps `statless`
# blocks; full-match needs `has & (nulls == 0)`, as any null row fails
# every comparison.
_RULES = {
    P.Eq: (lambda mn, mx, v: (mn <= v) & (mx >= v),
           lambda mn, mx, v: (mn == v) & (mx == v)),
    # `c != v` might match unless min == max == v
    P.Ne: (lambda mn, mx, v: ~((mn == v) & (mx == v)),
           lambda mn, mx, v: (mx < v) | (mn > v)),
    P.Gt: (lambda mn, mx, v: mx > v, lambda mn, mx, v: mn > v),
    P.Ge: (lambda mn, mx, v: mx >= v, lambda mn, mx, v: mn >= v),
    P.Lt: (lambda mn, mx, v: mn < v, lambda mn, mx, v: mx < v),
    P.Le: (lambda mn, mx, v: mn <= v, lambda mn, mx, v: mx <= v),
}


# Widest integral range [lo, hi] the may-match fold probes value by value
# against the membership filters: every row in the range holds one of its
# hi - lo + 1 values, so a block whose filter holds none of them cannot
# match. A one-week date range or a 150-key id range probes; a wider range
# prunes on min/max alone, as the per-value probe cost grows with width
# while the chance that some value of the range hits grows toward 1.
RANGE_PROBE_MAX = 256

# a comparison's inclusive integral bound is its literal plus this shift
_SHIFT = {P.Ge: 0, P.Gt: 1, P.Le: 0, P.Lt: -1}


def _exact_long(value, kind: str):
    """A range bound in long space, or None unless the literal normalizes
    exactly: an int for INT/LONG, a date or ISO date string for DATE."""
    if kind == ityp.DATE:
        exact = isinstance(value, (datetime.date, str))
    else:
        exact = kind in (ityp.INT, ityp.LONG) and isinstance(value, int) \
            and not isinstance(value, bool)
    return _norm_literal(value, kind) if exact else None


def _integral_ranges(children, ops) -> dict:
    """{column: (kind, lo, hi)} for each INT, LONG or DATE column that the
    direct Ge/Gt/Le/Lt ``children`` of an And bound on both sides."""
    bounds: dict = {}
    for c in children:
        kind = ops.kind(c.column) if type(c) in _SHIFT else None
        v = _exact_long(c.value, kind) if kind else None
        if v is None:
            continue
        v += _SHIFT[type(c)]
        lo, hi = bounds.get(c.column, (None, None))
        if isinstance(c, (P.Ge, P.Gt)):
            lo = v if lo is None else max(lo, v)
        else:
            hi = v if hi is None else min(hi, v)
        bounds[c.column] = (lo, hi)
    return {col: (ops.kind(col), lo, hi) for col, (lo, hi) in bounds.items()
            if lo is not None and hi is not None}


def _fold(pred: P.Predicate, ops, tz: str, full: bool):
    """The fold lattice over a pushed-down predicate: the may-match mask
    ("some row of the block might match") when ``full`` is False, the
    full-match mask ("every row matches") when it is True. Where the
    stats cannot decide, may-match answers True and full-match False.

    ``ops`` is the backend (`_BlockOps`, `pruning_spark._ColumnOps`); the
    masks it returns support ``& | ~`` and comparisons."""
    if isinstance(pred, (P.And, P.Or)):
        conj = isinstance(pred, P.And)
        out = ops.const(conj)
        for c in pred.children:
            # full-match Or: a block whose rows satisfy different children
            # is not provable from min/max and stays partial
            if conj:
                out &= _fold(c, ops, tz, full)
            else:
                out |= _fold(c, ops, tz, full)
            if ops.settled(out, not conj):
                return out
        if conj and not full:
            # the range probe: a may-match And bounding an integral column
            # on both sides needs some value of [lo, hi] in the block. The
            # full-match fold never probes: a filter proves absence only
            for col, (kind, lo, hi) in _integral_ranges(pred.children,
                                                        ops).items():
                if hi < lo:
                    out &= ops.const(False)
                elif hi - lo < RANGE_PROBE_MAX:
                    out = ops.membership(col, kind, out,
                                         list(range(lo, hi + 1)))
        return out
    if isinstance(pred, P.Trivial):
        return ops.const(pred.value)
    if isinstance(pred, (P.TermMatch, P.TermPrefixMatch)):
        # term index: per-block membership over the column's distinct
        # tokens (a prefix probe needs a string dict). A filter proves
        # absence, never that EVERY row holds the term. Blank terms are
        # not stored (the residual's split can emit "" at trim edges).
        term = pred.term if isinstance(pred, P.TermMatch) else pred.prefix
        tcol = next((pred.column + s
                     for s in (P.TERMS2_SUFFIX, P.TERMS_SUFFIX)
                     if ops.kind(pred.column + s) is not None), None)
        if full or tcol is None or not term.strip():
            return ops.const(not full)
        if isinstance(pred, P.TermMatch):
            return ops.membership(tcol, ityp.STRING, ops.const(True), [term])
        return ops.prefix_membership(tcol, ops.const(True), term)

    # unindexed column (ParquetIndexFilters.scala:37-39), Unsupported, or
    # the Not that push_not_down leaves only above Unsupported => scan
    kind = ops.kind(getattr(pred, "column", None))
    if kind is None:
        return ops.const(not full)
    if isinstance(pred, P.InBloom):
        # reverse membership probe (dpp_join's big-dim tier): refute a
        # block when its exact DICT values all miss the dim-key bloom
        return ops.const(False) if full else \
            ops.in_bloom(pred.column, kind, pred.blob)
    has, nulls, rows, mn, mx = ops.stats(pred.column)
    if isinstance(pred, P.IsNull):
        # nulls == -1 (unknown) never equals rows >= 0
        return rows == nulls if full else (nulls > 0) | (nulls == -1)
    if isinstance(pred, P.IsNotNull):
        return nulls == 0 if full else (rows > 0) & (rows > nulls)
    if isinstance(pred, P.StartsWith):
        # beyond-reference: strings with prefix p form the interval
        # [p, prefix_upper_bound(p)) under the order min/max are stored
        # in (sound vs truncated footer bounds — truncation only widens
        # [min, max]); a string dict with no member starting with p
        # refutes the block
        if kind != ityp.STRING:
            return ops.const(not full)
        p, hi = pred.prefix, P.prefix_upper_bound(pred.prefix)
        rng = P.Ge(pred.column, p) if hi is None else \
            P.And((P.Ge(pred.column, p), P.Lt(pred.column, hi)))
        out = _fold(rng, ops, tz, full)
        return out if full or not p else \
            ops.prefix_membership(pred.column, out, p)

    if isinstance(pred, P.In):
        op, values = P.Eq, pred.values
    elif type(pred) in _RULES:
        op, values = type(pred), (pred.value,)
    else:
        return ops.const(not full)
    vs = [_norm_literal(x, kind, tz) for x in values]
    if not full and any(v is None for v in vs):
        return ops.const(True)  # an un-coercible literal => scan
    vs = [v for v in vs if v is not None]
    if not vs:
        return ops.const(False)
    rule = _RULES[op][full]
    hit = rule(mn, mx, vs[0])
    for v in vs[1:]:
        hit |= rule(mn, mx, v)
    if full:
        return ops.known(has & (nulls == 0) & hit)
    out = ops.known(has & hit) | statless(has, nulls, rows)
    # Eq/In consult the membership filter after min/max (ibid:54-75)
    return ops.membership(pred.column, kind, out, vs) if op is P.Eq else out


class _BlockOps:
    """The numpy backend of `_fold`: bool[n_blocks] over a context."""

    def __init__(self, ctx: BlockStatsContext):
        self.ctx = ctx

    def const(self, value: bool) -> np.ndarray:
        return np.full(self.ctx.n, value, dtype=bool)

    @staticmethod
    def settled(out: np.ndarray, value: bool) -> bool:
        return bool(out.all()) if value else not out.any()

    def kind(self, column: str) -> Optional[str]:
        return getattr(self.ctx.columns.get(column), "kind", None)

    def stats(self, column: str):
        s = self.ctx.columns[column]
        if s.kind == ityp.STRING:
            return s.has, s.nulls, self.ctx.rows, s.min_s, s.max_s
        return s.has, s.nulls, self.ctx.rows, s.min_l, s.max_l

    @staticmethod
    def known(mask: np.ndarray) -> np.ndarray:
        return mask

    def membership(self, column: str, kind: str, out: np.ndarray,
                   values: list) -> np.ndarray:
        """Refine a may-match with membership filters where available —
        numpy column ops over the packed dict/bloom arrays
        (ColumnMembership.refine), no per-block Python."""
        memb = self.ctx.membership(column) if out.any() else None
        return out if memb is None else memb.refine(out, values, kind)

    def prefix_membership(self, column: str, out: np.ndarray,
                          prefix: str) -> np.ndarray:
        memb = self.ctx.membership(column) if out.any() else None
        return out if memb is None else memb.refine_prefix(out, prefix)

    def in_bloom(self, column: str, kind: str, blob: bytes) -> np.ndarray:
        """Blocks without dict evidence, or an unreadable blob, scan."""
        from parquet_index_spark.statistics import BloomFilter
        memb = self.ctx.membership(column)
        if memb is None:
            return self.const(True)
        try:
            probe = BloomFilter.from_bytes(blob)
        except Exception:  # noqa: BLE001 — unknown blob => scan (sound)
            return self.const(True)
        return memb.refine_against_filter(self.const(True), probe, kind)


def evaluate(pred: P.Predicate, ctx: BlockStatsContext,
             tz: str = None) -> np.ndarray:
    """Fold predicate → bool[n_blocks] "block might contain a matching row".

    ``tz``: spark.sql.session.timeZone, for instant-timestamp literals."""
    return _fold(P.push_not_down(pred), _BlockOps(ctx), tz, False)


def prune_files(pred: P.Predicate, ctx: BlockStatsContext,
                tz: str = None) -> List[str]:
    """Files whose ANY block might match. Empty files (no blocks) skipped."""
    block_match = evaluate(pred, ctx, tz)
    if ctx.n == 0:
        return []
    matched = np.zeros(len(ctx.file_paths), dtype=bool)
    matched[ctx.file_ids[block_match]] = True
    return [p for p, m in zip(ctx.file_paths, matched) if m]


# The full-match fold is the dual of `evaluate` (which answers "might ANY
# row match"). Where the may-match fold must err toward True, this one
# must err toward False: a block is full-match only when the stored stats
# PROVE the predicate for all rows. min/max in the metastore are exact
# (footer values, or data-recomputed where footers are distrusted —
# collector._footer_str_trusted), so min >= v proves `col > v-1` etc.
#
# This enables metadata-only aggregation (IndexedDataFrame.count_where):
# full blocks contribute their exact footer row counts with no data IO;
# only blocks in the PARTIAL band (may-match but not full-match) force a
# scan of their file. No reference analog — the reference only prunes.
def evaluate_full(pred: P.Predicate, ctx: BlockStatsContext,
                  tz: str = None) -> np.ndarray:
    """Fold predicate → bool[n_blocks] "every row satisfies the predicate".

    Sound in the downward direction: False whenever the stats cannot
    prove the predicate (unindexed column, unsupported shape, unknown
    null count, statless block)."""
    return _fold(P.push_not_down(pred), _BlockOps(ctx), tz, True)
