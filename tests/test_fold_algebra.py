"""Truth-table tests of the pruning fold algebra — no Spark needed.

Port of the reference's fold-algebra coverage
(ParquetIndexFiltersSuite.scala:66-315, 43 cases) and statistics boundary
cases (ColumnStatisticsSuite.scala), adapted where our semantics are
deliberately sound where the reference's are not (Not handling — see
predicates.push_not_down docstring).
"""

import datetime

import numpy as np
import pytest

from parquet_index_spark import predicates as P
from parquet_index_spark import types as ityp
from parquet_index_spark.pruning import (
    BlockStatsContext, ColumnBlockStats, evaluate, evaluate_full,
    prune_files,
)
from parquet_index_spark.statistics import (
    BITMAP_MAX_RANGE, BitmapFilter, BloomFilter, DictFilter,
    MembershipFilter, build_filters,
)


def make_ctx(blocks, membership=None):
    """blocks: list of dicts; each dict: file, rows, cols={name: (kind, min, max, nulls)}
    min/max None => all-null block (has_stats False). Values already in
    stat space (ints for long-kinds, str for strings)."""
    n = len(blocks)
    file_paths = []
    for b in blocks:
        if b["file"] not in file_paths:
            file_paths.append(b["file"])
    file_ids = np.array([file_paths.index(b["file"]) for b in blocks], dtype=np.int64)
    rows = np.array([b.get("rows", 100) for b in blocks], dtype=np.int64)
    colnames = set()
    for b in blocks:
        colnames |= set(b["cols"].keys())
    columns = {}
    for c in sorted(colnames):
        kinds = [b["cols"][c][0] for b in blocks if c in b["cols"]]
        kind = kinds[0]
        has, nulls, mins, maxs = [], [], [], []
        for b in blocks:
            spec = b["cols"].get(c)
            if spec is None:
                has.append(False); nulls.append(-1); mins.append(None); maxs.append(None)
            else:
                _, mn, mx, nl = spec
                has.append(mn is not None)
                nulls.append(nl)
                mins.append(mn); maxs.append(mx)
        has = np.array(has, dtype=bool)
        nulls = np.array(nulls, dtype=np.int64)
        if kind == ityp.STRING:
            columns[c] = ColumnBlockStats(
                kind, has, nulls, None, None,
                np.array(mins, dtype=object), np.array(maxs, dtype=object))
        else:
            columns[c] = ColumnBlockStats(
                kind, has, nulls,
                np.array([0 if m is None else m for m in mins], dtype=np.int64),
                np.array([0 if m is None else m for m in maxs], dtype=np.int64),
                None, None)
    loader = None
    if membership is not None:
        loader = lambda col: membership.get(col)  # noqa: E731
    return BlockStatsContext(n, rows, file_ids, file_paths, columns, loader)


def one_block(kind, mn, mx, nulls=0, rows=100):
    return make_ctx([{"file": "f0", "rows": rows,
                      "cols": {"a": (kind, mn, mx, nulls)}}])


def fold1(pred, ctx):
    return bool(evaluate(pred, ctx)[0])


L = ityp.LONG
S = ityp.STRING


class TestEqFold:
    """EqualTo consults contains(): has_stats && min <= v <= max
    (ParquetIndexFilters.scala:54-64, ColumnStatistics boundary rules)."""

    @pytest.mark.parametrize("v,expected", [
        (0, False), (1, True), (5, True), (9, True), (10, False)])
    def test_long_range(self, v, expected):
        assert fold1(P.Eq("a", v), one_block(L, 1, 9)) is expected

    def test_all_null_block_never_matches_eq(self):
        # isSet=False => every comparison false (ColumnStatistics.scala:165-206)
        assert fold1(P.Eq("a", 1), one_block(L, None, None, nulls=100)) is False

    def test_unindexed_column_scans(self):
        assert fold1(P.Eq("zzz", 1), one_block(L, 1, 9)) is True

    @pytest.mark.parametrize("v,expected", [
        ("a", False), ("b", True), ("bb", True), ("d", True), ("e", False)])
    def test_string_range(self, v, expected):
        assert fold1(P.Eq("a", v), one_block(S, "b", "d")) is expected


class TestRangeFolds:
    """Open/closed boundary rules (ParquetIndexFilters.scala:80-101):
    Gt matches iff max > v; Ge iff max >= v; Lt iff min < v; Le iff min <= v."""

    @pytest.mark.parametrize("pred,expected", [
        (P.Gt("a", 0), True), (P.Gt("a", 8), True), (P.Gt("a", 9), False),
        (P.Gt("a", 10), False),
        (P.Ge("a", 9), True), (P.Ge("a", 10), False),
        (P.Lt("a", 1), False), (P.Lt("a", 2), True), (P.Lt("a", 0), False),
        (P.Le("a", 1), True), (P.Le("a", 0), False),
    ])
    def test_long_boundaries(self, pred, expected):
        assert fold1(pred, one_block(L, 1, 9)) is expected

    def test_all_null_fails_ranges(self):
        ctx = one_block(L, None, None, nulls=100)
        for pred in (P.Gt("a", 0), P.Ge("a", 0), P.Lt("a", 10), P.Le("a", 10)):
            assert fold1(pred, ctx) is False

    @pytest.mark.parametrize("pred,expected", [
        (P.Gt("a", "c"), True), (P.Gt("a", "d"), False),
        (P.Ge("a", "d"), True), (P.Ge("a", "dd"), False),
        (P.Lt("a", "b"), False), (P.Lt("a", "bb"), True),
        (P.Le("a", "b"), True), (P.Le("a", "a"), False),
    ])
    def test_string_boundaries(self, pred, expected):
        assert fold1(pred, one_block(S, "b", "d")) is expected


class TestInIsNullFolds:
    def test_in_any_contained(self):
        ctx = one_block(L, 1, 9)
        assert fold1(P.In("a", (0, 10, 5)), ctx) is True
        assert fold1(P.In("a", (0, 10)), ctx) is False
        assert fold1(P.In("a", ()), ctx) is False

    def test_is_null_consults_null_count(self):
        assert fold1(P.IsNull("a"), one_block(L, 1, 9, nulls=0)) is False
        assert fold1(P.IsNull("a"), one_block(L, 1, 9, nulls=3)) is True
        # unknown null count => conservative scan
        assert fold1(P.IsNull("a"), one_block(L, 1, 9, nulls=-1)) is True

    def test_is_not_null(self):
        assert fold1(P.IsNotNull("a"), one_block(L, 1, 9, nulls=0)) is True
        assert fold1(P.IsNotNull("a"), one_block(L, None, None, nulls=100, rows=100)) is False


class TestBooleanFolds:
    """And/Or simplification (ParquetIndexFilters.scala:102-117)."""

    def test_and(self):
        ctx = one_block(L, 1, 9)
        assert fold1(P.And((P.Eq("a", 5), P.Eq("a", 6))), ctx) is True
        assert fold1(P.And((P.Eq("a", 5), P.Eq("a", 20))), ctx) is False
        assert fold1(P.And((P.Eq("a", 20), P.Eq("a", 5))), ctx) is False

    def test_or(self):
        ctx = one_block(L, 1, 9)
        assert fold1(P.Or((P.Eq("a", 50), P.Eq("a", 5))), ctx) is True
        assert fold1(P.Or((P.Eq("a", 50), P.Eq("a", 60))), ctx) is False

    def test_or_with_unindexed_scans(self):
        # Or with an uncovered branch must not prune
        # (IndexSourceStrategy.scala:57-77 coverage rule)
        ctx = one_block(L, 1, 9)
        assert fold1(P.Or((P.Eq("a", 50), P.Eq("zzz", 1))), ctx) is True

    def test_and_with_unindexed_still_prunes_covered_conjunct(self):
        ctx = one_block(L, 1, 9)
        assert fold1(P.And((P.Eq("a", 50), P.Eq("zzz", 1))), ctx) is False

    def test_trivial(self):
        ctx = one_block(L, 1, 9)
        assert fold1(P.Trivial(True), ctx) is True
        assert fold1(P.Trivial(False), ctx) is False


class TestSoundNegation:
    """Our divergence from ParquetIndexFilters.scala:118-123: Not must never
    prune a block that holds rows satisfying the negated predicate."""

    def test_not_eq_multivalue_block_scans(self):
        # block [1..9]: NOT(a=5) has matching rows => must scan
        assert fold1(P.Not(P.Eq("a", 5)), one_block(L, 1, 9)) is True

    def test_not_eq_constant_block_prunes(self):
        # block where min==max==5 and no nulls: no row satisfies a != 5
        assert fold1(P.Not(P.Eq("a", 5)), one_block(L, 5, 5)) is False

    def test_not_range_complement(self):
        ctx = one_block(L, 1, 9)
        assert fold1(P.Not(P.Gt("a", 9)), ctx) is True    # a <= 9 matches
        assert fold1(P.Not(P.Le("a", 9)), ctx) is False   # a > 9 impossible
        assert fold1(P.Not(P.Lt("a", 1)), ctx) is True    # a >= 1 matches
        assert fold1(P.Not(P.Ge("a", 1)), ctx) is False   # a < 1 impossible

    def test_not_is_null(self):
        assert fold1(P.Not(P.IsNull("a")), one_block(L, 1, 9, nulls=0)) is True
        assert fold1(P.Not(P.IsNull("a")),
                     one_block(L, None, None, nulls=100)) is False

    def test_double_negation(self):
        ctx = one_block(L, 1, 9)
        assert fold1(P.Not(P.Not(P.Eq("a", 5))), ctx) is True
        assert fold1(P.Not(P.Not(P.Eq("a", 50))), ctx) is False

    def test_de_morgan(self):
        ctx = one_block(L, 1, 9)
        # NOT(a<1 OR a>9) == 1<=a<=9 => scan
        assert fold1(P.Not(P.Or((P.Lt("a", 1), P.Gt("a", 9)))), ctx) is True
        # NOT(a>=1 AND a<=9) == a<1 OR a>9 => prune
        assert fold1(P.Not(P.And((P.Ge("a", 1), P.Le("a", 9)))), ctx) is False


class TestMembershipFilters:
    """Eq/In consult filters only after min/max passes
    (ParquetIndexFilters.scala:54-75)."""

    def _ctx_with_dict(self, values):
        mf = MembershipFilter(DictFilter(set(values)), None)
        ctx = make_ctx(
            [{"file": "f0", "rows": 100, "cols": {"a": (L, 1, 9, 0)}}],
            membership={"a": [mf]})
        return ctx

    def test_dict_refines_eq(self):
        ctx = self._ctx_with_dict({1, 5, 9})
        assert fold1(P.Eq("a", 5), ctx) is True
        assert fold1(P.Eq("a", 4), ctx) is False   # in range but not in dict
        assert fold1(P.Eq("a", 50), ctx) is False  # out of range

    def test_dict_refines_in(self):
        ctx = self._ctx_with_dict({1, 5, 9})
        assert fold1(P.In("a", (4, 6)), ctx) is False
        assert fold1(P.In("a", (4, 5)), ctx) is True

    def test_bloom_no_false_negatives(self):
        bf = BloomFilter.create(1000)
        for v in range(0, 1000, 7):
            bf.put(v, L)
        mf = MembershipFilter(None, bf)
        ctx = make_ctx(
            [{"file": "f0", "rows": 1000, "cols": {"a": (L, 0, 999, 0)}}],
            membership={"a": [mf]})
        for v in range(0, 1000, 7):
            assert fold1(P.Eq("a", v), ctx) is True

    def test_bloom_fpp_reasonable(self):
        bf = BloomFilter.create(10000)
        for v in range(10000):
            bf.put(v, L)
        fp = sum(bf.might_contain(v, L) for v in range(20000, 30000))
        # default fpp 0.001 (the reference fixes 0.03,
        # ColumnFilterStatistics.scala:256)
        assert fp / 10000 < 0.003

    def test_range_predicates_ignore_filters(self):
        ctx = self._ctx_with_dict({5})
        # a one-sided range has no values to probe
        assert fold1(P.Gt("a", 3), ctx) is True

    def test_bitmap_exact_membership(self):
        # dense int bitmap: the reference's RoaringBitmap int path
        # (ColumnFilterStatistics.scala:364-393) — exact, both directions
        bm = BitmapFilter.from_values([1, 5, 9])
        mf = MembershipFilter(None, None, bm)
        ctx = make_ctx(
            [{"file": "f0", "rows": 100, "cols": {"a": (L, 1, 9, 0)}}],
            membership={"a": [mf]})
        assert fold1(P.Eq("a", 5), ctx) is True
        assert fold1(P.Eq("a", 4), ctx) is False   # in span, bit unset
        assert fold1(P.Eq("a", 50), ctx) is False  # outside span
        assert fold1(P.In("a", (4, 6)), ctx) is False
        assert fold1(P.In("a", (4, 9)), ctx) is True

    def test_bitmap_roundtrip_and_no_false_positives(self):
        vals = list(range(0, 5000, 7))
        bm = BitmapFilter.from_bytes(BitmapFilter.from_values(vals).to_bytes())
        for v in vals:
            assert bm.might_contain(v, L)
        misses = [v for v in range(5000) if v % 7 and bm.might_contain(v, L)]
        assert misses == []  # exact: zero false positives

    def test_bitmap_build_falls_back_to_bloom_on_wide_span(self):
        # span exceeding BITMAP_MAX_RANGE cannot be dense: builder degrades
        # to bloom (sound, inexact) instead of allocating an outsized bitmap
        d, blob = build_filters([0, BITMAP_MAX_RANGE + 10], L, "bitmap",
                                dict_max_size=0, block_rows=2)
        assert d is None and blob[:8] == b"PIBLOOM2"
        d2, blob2 = build_filters([0, 100], L, "bitmap",
                                  dict_max_size=0, block_rows=2)
        assert d2 is None and blob2[:8] == b"PIBITMP1"
        # string columns never bitmap: fall back to bloom
        d3, blob3 = build_filters(["x", "y"], ityp.STRING, "bitmap",
                                  dict_max_size=0, block_rows=2)
        assert d3 is None and blob3[:8] == b"PIBLOOM2"


class TestRangeProbe:
    """A may-match And that bounds an INT, LONG or DATE column on both
    sides, over at most RANGE_PROBE_MAX values, probes every value of the
    range against the membership filters; min/max alone keep every block
    here, so each False below is the probe's."""

    D = ityp.DATE

    def _ctx(self, kind=L, filters=True):
        bloom = BloomFilter.create(4)
        bloom.put(20, kind)
        blocks = [MembershipFilter(DictFilter({5, 500}), None),
                  MembershipFilter(None, None,
                                   BitmapFilter.from_values([10, 900])),
                  MembershipFilter(None, bloom), None]
        membership = {"a": blocks, "t": blocks} if filters else None
        return make_ctx([{"file": f"f{i}", "rows": 10,
                          "cols": {"a": (kind, 0, 1000, 0),
                                   "t": (ityp.TIMESTAMP, 0, 1000, 0)}}
                         for i in range(4)], membership)

    def _may(self, pred, **kw):
        return evaluate(pred, self._ctx(**kw), "UTC").tolist()

    @staticmethod
    def _rng(lo_op, lo, hi_op, hi, col="a"):
        return P.And((lo_op(col, lo), hi_op(col, hi)))

    def test_probe_keeps_blocks_holding_a_value(self):
        assert self._may(self._rng(P.Ge, 4, P.Lt, 6)) == \
            [True, False, False, True]
        assert self._may(self._rng(P.Gt, 9, P.Le, 20)) == \
            [False, True, True, True]
        assert self._may(P.parse_sql_predicate("a BETWEEN 6 AND 9")) == \
            [False, False, False, True]

    def test_bounds_tighten_across_children(self):
        pred = P.And((P.Ge("a", 0), P.Le("a", 900), P.Ge("a", 4),
                      P.Lt("a", 6), P.IsNotNull("t")))
        assert self._may(pred) == [True, False, False, True]

    def test_width_cap(self):
        from parquet_index_spark.pruning import RANGE_PROBE_MAX
        at_cap = self._rng(P.Ge, 11, P.Lt, 11 + RANGE_PROBE_MAX)
        assert self._may(at_cap) == [False, False, True, True]
        past_cap = self._rng(P.Ge, 11, P.Le, 11 + RANGE_PROBE_MAX)
        assert self._may(past_cap) == [True] * 4

    def test_empty_range_matches_nothing(self):
        assert self._may(self._rng(P.Ge, 6, P.Lt, 6)) == [False] * 4
        assert self._may(self._rng(P.Gt, 5, P.Lt, 6)) == [False] * 4

    def test_no_probe_without_exact_two_sided_bounds(self):
        for pred in (P.Not(self._rng(P.Ge, 4, P.Lt, 6)),
                     P.Or((P.Ge("a", 4), P.Lt("a", 6))),
                     P.Ge("a", 4),
                     self._rng(P.Ge, 4, P.Lt, 6.5),       # float literal
                     self._rng(P.Ge, True, P.Lt, 6),      # bool literal
                     self._rng(P.Ge, 4, P.Lt, 6, col="t")):
            assert self._may(pred) == self._may(pred, filters=False), pred

    def test_date_bounds(self):
        def day(n):
            return datetime.date(1970, 1, 1) + datetime.timedelta(days=n)

        assert self._may(self._rng(P.Ge, day(4), P.Lt, day(6)),
                         kind=self.D) == [True, False, False, True]
        assert self._may(self._rng(P.Ge, str(day(19)), P.Le, str(day(20))),
                         kind=self.D) == [False, False, True, True]
        # a datetime bound does not normalize exactly: min/max only
        midnight = datetime.datetime(1970, 1, 5)
        assert self._may(self._rng(P.Ge, midnight, P.Lt, day(6)),
                         kind=self.D) == [True] * 4

    def test_datetime_on_date_column_scans(self):
        """Spark compares a DATE column with a datetime as timestamps:
        d = 1970-01-05 satisfies d < 1970-01-05 12:00 and d != it."""
        ctx = one_block(self.D, 4, 4)
        noon = datetime.datetime(1970, 1, 5, 12)
        for op in (P.Lt, P.Ne, P.Le, P.Eq, P.Ge, P.Gt):
            assert fold1(op("a", noon), ctx) is True, op
            assert not evaluate_full(op("a", noon), ctx).any(), op

    def test_full_match_never_consults_filters(self):
        """Full match is proven by min/max alone; a filter only proves
        absence. The dict here disagrees with min/max on purpose: the
        full-match fold must not read it."""
        ctx = make_ctx([{"file": "f0", "rows": 10,
                         "cols": {"a": (L, 5, 5, 0)}}],
                       {"a": [MembershipFilter(DictFilter({7}), None)]})
        pred = self._rng(P.Ge, 4, P.Le, 6)
        assert evaluate_full(pred, ctx).tolist() == [True]
        assert evaluate(pred, ctx).tolist() == [False]


class TestFilePruning:
    def test_per_block_or(self):
        # file survives iff ANY block matches (ParquetIndexFilters.scala:29-46)
        ctx = make_ctx([
            {"file": "f0", "cols": {"a": (L, 1, 9, 0)}},
            {"file": "f0", "cols": {"a": (L, 100, 200, 0)}},
            {"file": "f1", "cols": {"a": (L, 10, 20, 0)}},
        ])
        assert prune_files(P.Eq("a", 150), ctx) == ["f0"]
        assert prune_files(P.Eq("a", 15), ctx) == ["f1"]
        assert prune_files(P.Eq("a", 5000), ctx) == []

    def test_empty_file_always_skipped(self):
        # a file with no blocks folds to Trivial(false)
        # (ParquetIndexFilters.scala:42-45)
        ctx = make_ctx([{"file": "f0", "cols": {"a": (L, 1, 9, 0)}}])
        ctx.file_paths.append("empty_file")
        assert "empty_file" not in prune_files(P.Eq("a", 5), ctx)
        assert "empty_file" not in prune_files(P.Trivial(True), ctx)


class TestDateTimestampFolds:
    def test_date_normalization(self):
        d = ityp.to_long_space(datetime.date(1995, 6, 1), ityp.DATE)
        ctx = one_block(ityp.DATE, d - 10, d + 10)
        assert fold1(P.Eq("a", datetime.date(1995, 6, 1)), ctx) is True
        assert fold1(P.Eq("a", "1995-06-01"), ctx) is True
        assert fold1(P.Gt("a", datetime.date(1995, 6, 11)), ctx) is False

    def test_timestamp_microsecond_precision(self):
        base = ityp.to_long_space(datetime.datetime(1995, 6, 1), ityp.TIMESTAMP)
        ctx = one_block(ityp.TIMESTAMP, base, base + 1)  # 1 microsecond span
        assert fold1(P.Eq("a", datetime.datetime(1995, 6, 1, 0, 0, 0, 1)), ctx) is True
        assert fold1(P.Eq("a", datetime.datetime(1995, 6, 1, 0, 0, 0, 2)), ctx) is False

    def test_uncoercible_literal_scans(self):
        ctx = one_block(L, 1, 9)
        assert fold1(P.Eq("a", "not-a-number"), ctx) is True


class TestBuildFilters:
    def test_dict_under_cap(self):
        d, b = build_filters([1, 2, 3], L, "dict", 10, 100)
        assert d == [1, 2, 3] and b is None

    def test_dict_over_cap_falls_back_to_bloom(self):
        d, b = build_filters(list(range(100)), L, "dict", 10, 100)
        assert d is None and b is not None
        bf = BloomFilter.from_bytes(b)
        assert all(bf.might_contain(v, L) for v in range(100))

    @pytest.mark.parametrize("kind,values", [
        (L, list(range(-50, 500, 3))),
        (S, [f"k{i}" for i in range(300)])])
    def test_bloom_build_sets_the_scalar_bits(self, kind, values):
        """The numpy build sets exactly the bits the scalar per-round
        insert sets (the reference loop)."""
        _, b = build_filters(values, kind, "bloom", 10, len(values))
        built = BloomFilter.from_bytes(b)
        ref = BloomFilter(built.num_bits, built.num_hashes)
        for v in values:
            ref.put(v, kind)
        assert built.bits == ref.bits

    def test_bloom_roundtrip(self):
        _, b = build_filters(["x", "y"], S, "bloom", 10, 100)
        bf = BloomFilter.from_bytes(b)
        assert bf.might_contain("x", S) and bf.might_contain("y", S)
        # tiny filter: any single probe may collide; the RATE must be low
        fps = sum(bf.might_contain(f"z{i}", S) for i in range(100))
        assert fps < 30


class TestVectorizedMembershipScale:
    """Micro-bench guard: the membership probe must stay numpy-vectorized —
    probing 10^5 bloom blocks in well under a second (the round-1 per-block
    Python loop took seconds at this size and minutes at millions)."""

    @pytest.mark.slow
    def test_bloom_probe_1e5_blocks_fast(self):
        import time
        import numpy as np
        from parquet_index_spark.statistics import BloomFilter, ColumnMembership

        n = 100_000
        rng = np.random.default_rng(7)
        # one shared geometry: same expected_items => same (m, k)
        blooms = []
        proto = BloomFilter.create(64)
        for i in range(n):
            bf = BloomFilter(proto.num_bits, proto.num_hashes)
            for v in rng.integers(0, 1 << 30, size=8):
                bf.put(int(v), "long")
            blooms.append(bf.to_bytes())
        cm = ColumnMembership.build([None] * n, [None] * n, blooms)
        candidates = np.ones(n, dtype=bool)
        t0 = time.monotonic()
        for probe in range(20):
            cm.refine(candidates, [probe], "long")
        elapsed = time.monotonic() - t0
        assert elapsed < 1.0, f"20 probes over 1e5 blocks took {elapsed:.2f}s"

    @staticmethod
    def _mixed_filters(n, seed):
        """Blocks of every filter shape: blooms at two fpps (so several
        geometries), dense bitmaps, dicts and no filter."""
        rng = np.random.default_rng(seed)
        filters = []
        for i in range(n):
            vals = {int(x) for x in rng.integers(0, 15_000,
                                                 int(rng.integers(1, 80)))}
            shape = i % 5
            if shape in (0, 1):
                bf = BloomFilter.create(len(vals), (0.001, 0.03)[shape])
                bf.put_longs_vectorized(np.array(sorted(vals)))
                filters.append(MembershipFilter(None, bf))
            elif shape == 2:
                filters.append(MembershipFilter(
                    None, None, BitmapFilter.from_values(vals)))
            elif shape == 3:
                filters.append(MembershipFilter(DictFilter(vals), None))
            else:
                filters.append(None)
        return filters

    @pytest.mark.parametrize("values", [
        [5], list(range(1000, 1150)), [1, 2, 3, 20_000], list(range(-9, 0))])
    def test_multi_value_probe_matches_scalar_reference(self, values):
        from parquet_index_spark.statistics import ColumnMembership
        filters = self._mixed_filters(400, 1)
        cand = np.random.default_rng(2).random(400) < 0.7
        got = ColumnMembership.from_filters(filters).refine(cand, values,
                                                            "long")
        want = [bool(c) and (f is None or any(f.might_contain(v, "long")
                                              for v in values))
                for c, f in zip(cand, filters)]
        assert got.tolist() == want

    def test_multi_value_probe_is_vectorized(self):
        """A 150-value range probe over 10^4 blocks of mixed geometries:
        one numpy pass per hash round, not one per value per block."""
        import time

        from parquet_index_spark.statistics import ColumnMembership
        cm = ColumnMembership.from_filters(self._mixed_filters(10_000, 3))
        candidates = np.ones(10_000, dtype=bool)
        t0 = time.monotonic()
        cm.refine(candidates, list(range(1000, 1150)), "long")
        elapsed = time.monotonic() - t0
        assert elapsed < 1.0, f"150-value probe took {elapsed:.2f}s"

    def test_dict_probe_vectorized_equivalence(self):
        import numpy as np
        from parquet_index_spark.statistics import (
            ColumnMembership, DictFilter, MembershipFilter)
        # mixed: dict blocks, bloom blocks, and no-filter blocks
        from parquet_index_spark.statistics import BloomFilter
        filters = []
        for i in range(50):
            if i % 3 == 0:
                filters.append(MembershipFilter(DictFilter({i, i + 100}), None))
            elif i % 3 == 1:
                bf = BloomFilter.create(4)
                bf.put(i, "long")
                filters.append(MembershipFilter(None, bf))
            else:
                filters.append(None)
        cm = ColumnMembership.from_filters(filters)
        cand = np.ones(50, dtype=bool)
        out = cm.refine(cand.copy(), [7], "long")
        # block 6 (dict {6,106}) excluded; block 7 (bloom with 7) kept;
        # no-filter blocks kept; dict blocks without 7 dropped
        for i in range(50):
            if i % 3 == 2:
                assert out[i], f"no-filter block {i} must pass"
        assert not out[6] and not out[0]
        assert out[7]
        # legacy per-block expectation for every block
        for i, f in enumerate(filters):
            expect = cand[i] if f is None else f.might_contain(7, "long")
            assert out[i] == expect, f"block {i}"


class TestReverseMembershipProbe:
    """ColumnMembership.refine_against_filter — the InBloom fold core
    (round-9 dpp_join big-dim tier): dict/bitmap blocks refute when all
    their exact values miss the probe bloom; every approximate or
    absent evidence shape keeps the block."""

    def _probe(self, keys):
        from parquet_index_spark.statistics import BloomFilter
        bf = BloomFilter(8192, 17)
        bf.put_longs_vectorized(np.array(keys, dtype=np.int64))
        return bf

    def test_dict_refutes_and_keeps(self):
        from parquet_index_spark.statistics import (BloomFilter,
                                                    ColumnMembership)
        n = 5
        dict_long = [[1, 2, 3],          # misses -> refuted
                     [100, 200],         # hits -> kept
                     None,               # no filter -> kept (sound)
                     [],                 # empty dict -> no evidence, kept
                     [300]]              # hits -> kept
        blooms = [None] * n
        cm = ColumnMembership.build(np.array(dict_long, dtype=object),
                                    np.array([None] * n, dtype=object),
                                    np.array(blooms, dtype=object))
        out = cm.refine_against_filter(np.ones(n, dtype=bool),
                                       self._probe([100, 300, 999]),
                                       ityp.LONG)
        assert list(out) == [False, True, True, True, True]
        # candidates already False stay False
        cand = np.array([True, False, True, True, True])
        out2 = cm.refine_against_filter(cand, self._probe([100, 300]),
                                        ityp.LONG)
        assert list(out2) == [False, False, True, True, True]

    def test_string_dict_and_bloom_blocks_kept(self):
        from parquet_index_spark.statistics import (BloomFilter,
                                                    ColumnMembership)
        probe = BloomFilter(8192, 17)
        for s in ("alpha", "beta"):
            probe.put(s, ityp.STRING)
        approx = BloomFilter(64, 3)
        approx.put(7, ityp.LONG)
        ds = [["alpha", "zzz"], ["nope", "nada"], None]
        blooms = [None, None, approx.to_bytes()]
        cm = ColumnMembership.build(np.array([None] * 3, dtype=object),
                                    np.array(ds, dtype=object),
                                    np.array(blooms, dtype=object))
        out = cm.refine_against_filter(np.ones(3, dtype=bool), probe,
                                       ityp.STRING)
        # hit / refuted / bloom block kept (approximate evidence)
        assert list(out) == [True, False, True]

    def test_bitmap_refutes_exact_long_sets(self):
        from parquet_index_spark.statistics import (BitmapFilter,
                                                    ColumnMembership)
        bm_hit = BitmapFilter.from_values([100, 101])
        bm_miss = BitmapFilter.from_values([500, 501])
        blooms = [bm_hit.to_bytes(), bm_miss.to_bytes(), None]
        cm = ColumnMembership.build(np.array([None] * 3, dtype=object),
                                    np.array([None] * 3, dtype=object),
                                    np.array(blooms, dtype=object))
        out = cm.refine_against_filter(np.ones(3, dtype=bool),
                                       self._probe([100, 300]),
                                       ityp.LONG)
        assert list(out) == [True, False, True]
        # string kind: bitmaps carry long evidence only -> all kept
        out2 = cm.refine_against_filter(np.ones(3, dtype=bool),
                                        self._probe([100]),
                                        ityp.STRING)
        assert list(out2) == [True, True, True]

    def test_in_bloom_predicate_contract(self, spark):
        blob = self._probe([1]).to_bytes()
        p = P.InBloom("k", blob)
        with pytest.raises(TypeError, match="negated"):
            ~p
        assert "in_bloom(k" in str(p) and "k" in repr(p)
        assert P.referenced_columns(p) == {"k"}
        # to_spark is the TRUE residual (join enforces row semantics)
        assert "true" in str(p.to_spark()).lower()
