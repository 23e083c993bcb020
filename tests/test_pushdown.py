"""Unit tests mirroring the reference pushdown cases (SURVEY.md §5.3):
EthereumBlockRange.fromMarkers bound handling, timestamp binary search
(exact hit, between-blocks ±1 offset, head<=1 early return), and
filter->range extraction incl. hash resolution."""

import pytest
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

from presto_ethereum_spark.plans.pushdown import (
    FULL_CHAIN,
    OPEN_END,
    BlockRange,
    find_block_by_timestamp,
    ranges_from_filters,
)


class TestNumberRanges:
    def test_no_filters(self):
        assert ranges_from_filters([]) == [FULL_CHAIN]

    def test_exactly_bounds(self):
        r = ranges_from_filters(
            [
                GreaterThanOrEqual(("block_number",), 10),
                LessThanOrEqual(("block_number",), 20),
            ]
        )
        assert r == [BlockRange(10, 20)]

    def test_above_below_nudge(self):
        # ABOVE -> value+1, BELOW -> value-1 (EthereumBlockRange.java:20-35)
        r = ranges_from_filters(
            [GreaterThan(("block_number",), 10), LessThan(("block_number",), 20)]
        )
        assert r == [BlockRange(11, 19)]

    def test_point(self):
        assert ranges_from_filters([EqualTo(("tx_blocknumber",), 7)]) == [BlockRange(7, 7)]

    @pytest.mark.parametrize(
        "f",
        [
            LessThan(("block_number",), 0),
            LessThan(("block_number",), 1),
            LessThanOrEqual(("block_number",), -1),
            LessThanOrEqual(("block_number",), 0),
            EqualTo(("block_number",), -1),
            EqualTo(("block_number",), 0),
            In(("block_number",), (-1,)),
            In(("block_number",), (-1, 0)),
        ],
        ids=repr,
    )
    def test_upper_bound_below_one_is_empty(self, f):
        """An upper bound below 1 matches no block: the range list is empty,
        never BlockRange(1, -1), whose end is the OPEN_END sentinel."""
        assert ranges_from_filters([f]) == []

    def test_in_list_drops_only_invalid_runs(self):
        assert ranges_from_filters([In(("block_number",), (-1, 5, 6))]) == [
            BlockRange(5, 6)
        ]

    def test_in_list_consecutive_runs(self):
        # In splits into one range per consecutive run: {5,7,9} with 6,8
        # missing is THREE islands; {5,6,7} merges to one
        assert ranges_from_filters([In(("erc20_blocknumber",), (5, 9, 7))]) == [
            BlockRange(5, 5),
            BlockRange(7, 7),
            BlockRange(9, 9),
        ]
        assert ranges_from_filters([In(("erc20_blocknumber",), (6, 5, 7))]) == [
            BlockRange(5, 7)
        ]

    def test_disjunctive_in_intersects_bounds(self):
        # the OR-of-islands case the reference's getOrderedRanges loop
        # handles (EthereumMetadata.java:190-199): a conjunctive bound
        # prunes whole islands
        r = ranges_from_filters(
            [
                In(("block_number",), (5, 6, 1_000_000, 1_000_001)),
                LessThanOrEqual(("block_number",), 10),
            ]
        )
        assert r == [BlockRange(5, 6)]

    def test_conjunction_intersects(self):
        r = ranges_from_filters(
            [
                GreaterThanOrEqual(("block_number",), 5),
                GreaterThanOrEqual(("block_number",), 10),
                LessThanOrEqual(("block_number",), 100),
                LessThan(("block_number",), 51),
            ]
        )
        assert r == [BlockRange(10, 50)]

    def test_contradiction_is_empty(self):
        r = ranges_from_filters(
            [
                GreaterThanOrEqual(("block_number",), 100),
                LessThanOrEqual(("block_number",), 10),
            ]
        )
        assert r == []  # empty disjunction: nothing to scan

    def test_unrelated_filters_ignored(self):
        r = ranges_from_filters(
            [
                IsNotNull(("block_miner",)),
                StringStartsWith(("block_miner",), "0xab"),
                EqualTo(("block_size",), 123),
            ]
        )
        assert r == [FULL_CHAIN]

    def test_hash_resolution(self):
        resolve = {"0xabc": 42}.get
        r = ranges_from_filters([EqualTo(("block_hash",), "0xabc")], resolve_hash=resolve)
        assert r == [BlockRange(42, 42)]
        # unknown hash -> no narrowing
        r2 = ranges_from_filters([EqualTo(("block_hash",), "0xZZZ")], resolve_hash=resolve)
        assert r2 == [FULL_CHAIN]


class TestTimestampSearch:
    # timestamps: block n has ts = 100 + 10*n (n in 1..100)
    HEAD = 100

    @staticmethod
    def ts(n):
        return 100 + 10 * n

    def test_exact_hit(self):
        assert find_block_by_timestamp(self.ts, self.HEAD, self.ts(37), -1) == 37
        assert find_block_by_timestamp(self.ts, self.HEAD, self.ts(37), +1) == 37

    def test_between_blocks_offset(self):
        # ts=375 lies between block 27 (370) and 28 (380): the search ends at
        # a neighbor and the ±1 offset brackets the boundary like the
        # reference (EthereumMetadata.java:293-318)
        lo = find_block_by_timestamp(self.ts, self.HEAD, 375, -1)
        hi = find_block_by_timestamp(self.ts, self.HEAD, 375, +1)
        assert lo <= 27 and hi >= 28

    def test_head_le_one(self):
        assert find_block_by_timestamp(self.ts, 1, 12345, -1) == 1
        assert find_block_by_timestamp(self.ts, 0, 12345, -1) == 0

    def test_range_extraction(self):
        r = ranges_from_filters(
            [
                GreaterThanOrEqual(("block_timestamp",), 375),
                LessThanOrEqual(("block_timestamp",), self.ts(90)),
            ],
            get_timestamp=self.ts,
            head=self.HEAD,
        )
        # must bracket blocks 28..90 (unenforced: may be slightly wider)
        [rr] = r
        assert rr.start <= 28 and rr.end >= 90 and rr.end != OPEN_END


class TestBlockRangeAlgebra:
    def test_intersect_open(self):
        assert BlockRange(5, OPEN_END).intersect(BlockRange(1, 10)) == BlockRange(5, 10)
        assert BlockRange(1, OPEN_END).intersect(BlockRange(3, OPEN_END)) == BlockRange(3, OPEN_END)

    def test_empty(self):
        assert BlockRange(10, 5).is_empty
        assert not BlockRange(10, OPEN_END).is_empty


class TestRangeListAlgebra:
    def test_normalize_merges_overlap_and_adjacency(self):
        from presto_ethereum_spark.plans.pushdown import normalize_ranges

        assert normalize_ranges(
            [BlockRange(5, 10), BlockRange(1, 6), BlockRange(11, 12)]
        ) == [BlockRange(1, 12)]  # overlap + adjacency merge
        assert normalize_ranges(
            [BlockRange(1, 3), BlockRange(10, 5), BlockRange(7, 8)]
        ) == [BlockRange(1, 3), BlockRange(7, 8)]  # empty dropped, sorted
        assert normalize_ranges(
            [BlockRange(20, OPEN_END), BlockRange(1, 2), BlockRange(30, 40)]
        ) == [BlockRange(1, 2), BlockRange(20, OPEN_END)]  # open absorbs

    def test_intersect_lists(self):
        from presto_ethereum_spark.plans.pushdown import intersect_range_lists

        a = [BlockRange(1, 10), BlockRange(100, 200)]
        b = [BlockRange(5, 150)]
        assert intersect_range_lists(a, b) == [
            BlockRange(5, 10),
            BlockRange(100, 150),
        ]
        assert intersect_range_lists(a, [BlockRange(11, 99)]) == []

    def test_parse_ranges_option(self):
        from presto_ethereum_spark.plans.pushdown import parse_ranges_option

        assert parse_ranges_option("1:10, 2001:2010") == [
            BlockRange(1, 10),
            BlockRange(2001, 2010),
        ]
        assert parse_ranges_option("500:*") == [BlockRange(500, OPEN_END)]
        # overlapping spec normalizes
        assert parse_ranges_option("1:10,5:20") == [BlockRange(1, 20)]


class TestSqlRangesRewrite:
    """Driver-side OR-of-BETWEEN -> block_ranges rewrite
    (plans/pushdown.ranges_from_sql): closes the disjunctive pruning gap
    the conjunction-only pushFilters API leaves open, mirroring the
    reference's ordered range list (EthereumMetadata.java:190-199)."""

    def test_or_of_betweens(self):
        from presto_ethereum_spark.plans.pushdown import ranges_from_sql

        got = ranges_from_sql(
            "block_number BETWEEN 10 AND 20 OR block_number BETWEEN 100 AND 110"
        )
        assert [(r.start, r.end) for r in got] == [(10, 20), (100, 110)]

    def test_and_intersects_or_merges_adjacent(self):
        from presto_ethereum_spark.plans.pushdown import ranges_from_sql

        got = ranges_from_sql(
            "(block_number BETWEEN 1 AND 10 OR block_number BETWEEN 11 AND 20)"
            " AND block_number >= 5"
        )
        assert [(r.start, r.end) for r in got] == [(5, 20)]

    def test_non_block_predicates_are_neutral(self):
        from presto_ethereum_spark.plans.pushdown import (
            OPEN_END,
            ranges_from_sql,
        )

        got = ranges_from_sql("tx_blocknumber > 7 AND tx_value = 5")
        assert [(r.start, r.end) for r in got] == [(8, OPEN_END)]
        # an OR with a non-block arm cannot prune at all
        got = ranges_from_sql("block_number < 10 OR tx_value = 5")
        assert [(r.start, r.end) for r in got] == [(1, OPEN_END)]

    def test_mirrored_operands_in_list_equality(self):
        from presto_ethereum_spark.plans.pushdown import ranges_from_sql

        got = ranges_from_sql("1000 <= block_number AND block_number <= 2000")
        assert [(r.start, r.end) for r in got] == [(1000, 2000)]
        got = ranges_from_sql("block_number IN (5, 6, 7, 1000)")
        assert [(r.start, r.end) for r in got] == [(5, 7), (1000, 1000)]

    def test_inequality_on_block_column_is_range_neutral(self):
        # != / <> on a block column: the complement of a point is the full
        # chain, so it must behave like a non-block predicate (conservative
        # scan; post-scan .where keeps it exact) rather than raise
        from presto_ethereum_spark.plans.pushdown import (
            OPEN_END,
            ranges_from_sql,
        )

        got = ranges_from_sql("block_number != 5 AND block_number <= 100")
        assert [(r.start, r.end) for r in got] == [(1, 100)]
        got = ranges_from_sql("block_number <> 5")
        assert [(r.start, r.end) for r in got] == [(1, OPEN_END)]

    def test_top_level_term_is_normalized(self):
        # the ordered-disjoint empty-free contract must hold for a single
        # top-level term too, not only inside OR/AND combination
        from presto_ethereum_spark.plans.pushdown import ranges_from_sql

        assert ranges_from_sql("block_number BETWEEN 10 AND 5") == []

    def test_unsupported_syntax_raises(self):
        import pytest as _pytest

        from presto_ethereum_spark.plans.pushdown import ranges_from_sql

        for bad in (
            "NOT block_number = 5",
            "block_number + 1 > 5",
            "block_number IN (SELECT 1)",
        ):
            with _pytest.raises(ValueError):
                ranges_from_sql(bad)

    def test_islands_launch_only_covered_partitions(self):
        """The done-criterion: an OR-of-two-islands query must plan
        partitions covering ONLY the islands (mirroring the reference's
        getOrderedRanges loop), counted at the reader level."""
        from presto_ethereum_spark.plans.pushdown import ranges_option_from_sql
        from presto_ethereum_spark.sources.rpc import (
            EthereumDataSource,
            EthereumReader,
        )
        from tests.conftest import ETH_FIXTURES

        pred = (
            "block_number BETWEEN 10 AND 109"
            " OR block_number BETWEEN 1000 AND 1099"
        )
        opts = {
            "table": "block",
            "path": str(ETH_FIXTURES / "chain_blocks.parquet"),
            "block_ranges": ranges_option_from_sql(pred),
            "blocks_per_partition": "50",
        }
        r = EthereumReader(opts, EthereumDataSource(opts).schema())
        parts = r.partitions()
        covered = sorted((p.start, p.end) for p in parts)
        assert covered == [(10, 59), (60, 109), (1000, 1049), (1050, 1099)]

    def test_read_ethereum_where_end_to_end(self, spark, monkeypatch):
        import weakref

        from pyspark.sql.datasource import DataSourceRegistration

        from presto_ethereum_spark.sources import rpc
        from tests.conftest import ETH_FIXTURES

        registered = []
        register = DataSourceRegistration.register
        monkeypatch.setattr(
            DataSourceRegistration,
            "register",
            lambda self, cls: registered.append(cls) or register(self, cls),
        )
        # as if no call had registered the format on this session yet
        monkeypatch.setattr(rpc, "_REGISTERED", weakref.WeakSet())
        pred = (
            "block_number BETWEEN 10 AND 20 OR block_number BETWEEN 100 AND 110"
        )
        for _ in range(2):
            df = rpc.read_ethereum_where(
                spark, "block", pred, path=str(ETH_FIXTURES / "chain_blocks.parquet")
            )
            got = sorted(r["block_number"] for r in df.select("block_number").collect())
            assert got == list(range(10, 21)) + list(range(100, 111))
        assert len(registered) == 1  # once per session

    def test_sql_view_drives_island_pruning(self, spark):
        """The SQL-first entry point: a registered view makes the
        disjunctive pruning reachable from plain spark.sql, and further
        WHERE clauses compose exactly on top of the baked-in narrowing."""
        from presto_ethereum_spark.sources.rpc import (
            register_ethereum_where_view,
        )
        from tests.conftest import ETH_FIXTURES

        register_ethereum_where_view(
            spark,
            "island_blocks",
            "block",
            "block_number BETWEEN 10 AND 20 OR block_number BETWEEN 100 AND 110",
            path=str(ETH_FIXTURES / "chain_blocks.parquet"),
        )
        got = [
            (r["block_number"], r["n"])
            for r in spark.sql(
                "SELECT block_number, count(*) AS n FROM island_blocks"
                " WHERE block_number >= 105 GROUP BY 1 ORDER BY 1"
            ).collect()
        ]
        assert got == [(b, 1) for b in range(105, 111)]
        spark.catalog.dropTempView("island_blocks")


class TestSqlRangesReviewFixes:
    def test_lt_small_n_is_empty_not_open_ended(self):
        from presto_ethereum_spark.plans.pushdown import ranges_from_sql

        assert ranges_from_sql("block_number < 0") == []
        assert ranges_from_sql("block_number < 1") == []
        assert ranges_from_sql("block_number <= 0") == []
        # and an impossible arm of an OR vanishes instead of widening
        got = ranges_from_sql("block_number < 0 OR block_number = 7")
        assert [(r.start, r.end) for r in got] == [(7, 7)]

    def test_contradiction_launches_zero_partitions(self):
        from presto_ethereum_spark.plans.pushdown import ranges_option_from_sql
        from presto_ethereum_spark.sources.rpc import (
            EthereumDataSource,
            EthereumReader,
        )
        from tests.conftest import ETH_FIXTURES

        spec = ranges_option_from_sql(
            "block_number >= 700 AND block_number <= 100"
        )
        assert spec == ""
        opts = {
            "table": "block",
            "path": str(ETH_FIXTURES / "chain_blocks.parquet"),
            "block_ranges": spec,
        }
        r = EthereumReader(opts, EthereumDataSource(opts).schema())
        assert r.partitions() == []  # zero partitions, never a full scan

    def test_string_literals_are_range_neutral(self):
        from presto_ethereum_spark.plans.pushdown import ranges_from_sql

        got = ranges_from_sql(
            "erc20_token = 'UNI' AND erc20_blocknumber <= 100"
        )
        assert [(r.start, r.end) for r in got] == [(1, 100)]
        got = ranges_from_sql(
            "tx_input != 'a b c' AND tx_blocknumber BETWEEN 5 AND 9"
        )
        assert [(r.start, r.end) for r in got] == [(5, 9)]
        # a string literal against a BLOCK column is an error, not a guess
        import pytest as _pytest

        with _pytest.raises(ValueError, match="non-integer"):
            ranges_from_sql("block_number = 'abc'")


@pytest.mark.parametrize("n", [-1, 0, 1, 5])
@pytest.mark.parametrize(
    "op,cls",
    [
        ("=", EqualTo),
        (">", GreaterThan),
        (">=", GreaterThanOrEqual),
        ("<", LessThan),
        ("<=", LessThanOrEqual),
    ],
)
def test_sql_comparison_maps_like_pushed_filter(op, cls, n):
    """ranges_from_sql and pushFilters share one comparison -> range
    mapping.  The predicate grammar has no negative literals, so a
    negative bound is rejected rather than mapped."""
    from presto_ethereum_spark.plans.pushdown import ranges_from_sql

    sql = f"block_number {op} {n}"
    if n < 0:
        with pytest.raises(ValueError, match="unsupported characters"):
            ranges_from_sql(sql)
    else:
        assert ranges_from_sql(sql) == ranges_from_filters([cls(("block_number",), n)])


class TestPushFiltersDisjunctionWatch:
    """STANDING SPARK-RELEASE WATCH (VERDICT r11 #7, automated): the
    Python DataSource pushFilters API delivers only the top-level
    CONJUNCTION — a raw OR-of-ranges predicate reaches the source as no
    block_number filter at all, which is why read_ethereum_where /
    block_ranges exist.  If a PySpark upgrade starts delivering
    disjunctive (or otherwise block_number-bearing) filters for the OR
    query below, the second assertion FAILS — that failure is the signal
    to wire native OR pushdown into EthereumPushdownReader and retire the
    SQL-rewrite workaround, not a regression."""

    def _watch_source(self):
        from presto_ethereum_spark.sources.rpc import (
            EthereumPushdownDataSource,
            EthereumPushdownReader,
        )

        class WatchSource(EthereumPushdownDataSource):
            @classmethod
            def name(cls) -> str:
                return "ethereum-pushdown-watch"

            def reader(self, schema):
                r = EthereumPushdownReader(dict(self.options), schema)
                watch = self.options["watch_path"]
                orig = r.pushFilters

                def recording(filters):
                    with open(watch, "a") as fh:
                        for f in filters:
                            fh.write(repr(f) + "\n")
                    return orig(filters)

                r.pushFilters = recording
                return r

        return WatchSource

    def test_or_predicate_delivery_and_correctness(self, spark, tmp_path):
        from tests.conftest import ETH_FIXTURES

        spark.dataSource.register(self._watch_source())
        watch = str(tmp_path / "filters.txt")

        # sanity leg: a plain conjunct IS delivered (the recorder works)
        df = (
            spark.read.format("ethereum-pushdown-watch")
            .option("table", "block")
            .option("path", str(ETH_FIXTURES / "chain_blocks.parquet"))
            .option("watch_path", watch)
            .load()
            .where("block_number <= 15")
        )
        assert df.count() == 15
        import os

        recorded = open(watch).read() if os.path.exists(watch) else ""
        assert "block_number" in recorded, (
            "recorder saw no filters for a plain conjunct — watch broken"
        )

        # watch leg: the OR-of-ranges predicate must still arrive with NO
        # block_number filter (conjunction-only API), while Spark
        # re-applies it post-scan so the RESULT is exact
        watch2 = str(tmp_path / "filters_or.txt")
        pred = (
            "block_number BETWEEN 10 AND 20 OR block_number BETWEEN 100 AND 110"
        )
        df2 = (
            spark.read.format("ethereum-pushdown-watch")
            .option("table", "block")
            .option("path", str(ETH_FIXTURES / "chain_blocks.parquet"))
            .option("watch_path", watch2)
            .load()
            .where(pred)
        )
        got = sorted(r["block_number"] for r in df2.select("block_number").collect())
        assert got == list(range(10, 21)) + list(range(100, 111))
        recorded2 = open(watch2).read() if os.path.exists(watch2) else ""
        assert "block_number" not in recorded2, (
            "Spark now delivers block_number filters for a disjunctive "
            "predicate — the pushFilters conjunction-only gap has closed: "
            "wire native OR pushdown into EthereumPushdownReader and "
            "retire the read_ethereum_where workaround.  Delivered:\n"
            + recorded2
        )
