"""Unit tests for connector-equivalent decode primitives (SURVEY.md §5.3):
hex→double narrowing, h32→h20, token lookup — mirroring the reference cases
in EthereumERC20Utils.java:8-14, EthereumRecordCursor.java:173-174,433-435."""

import math

from presto_ethereum_spark.constants import (
    ERC20_TOKEN_BY_ADDRESS,
    hex_to_double,
    h32_to_h20,
    lookup_token,
)


class TestHexToDouble:
    def test_small_value(self):
        assert hex_to_double("0x2a") == 42.0

    def test_zero(self):
        assert hex_to_double("0x0") == 0.0

    def test_empty_data_is_zero(self):
        # ERC-721 guard: "0x" -> NumberFormatException -> 0.0
        assert hex_to_double("0x") == 0.0

    def test_non_hex_is_zero(self):
        assert hex_to_double("0xzz") == 0.0

    def test_none_is_zero(self):
        assert hex_to_double(None) == 0.0

    def test_above_2_63(self):
        v = 2**70 + 12345
        assert hex_to_double("0x" + format(v, "x")) == float(v)

    def test_above_2_53_rounds_like_double(self):
        v = 2**53 + 1  # not representable; rounds half-even to 2^53
        assert hex_to_double("0x" + format(v, "x")) == float(v) == 2.0**53

    def test_uint256_max(self):
        v = 2**256 - 1
        assert hex_to_double("0x" + "f" * 64) == float(v)

    def test_128_hex_chars_whole_data_parse(self):
        # >=3-topic logs parse the ENTIRE data string as one number
        # (EthereumRecordCursor.java:180).
        h = "0x" + "01" + "0" * 126
        assert hex_to_double(h) == float(int(h[2:], 16))

    def test_overflow_to_inf(self):
        assert hex_to_double("0x" + "f" * 300) == math.inf

    def test_uppercase_hex(self):
        assert hex_to_double("0xFF") == 255.0


class TestH32ToH20:
    def test_standard_topic(self):
        t = "0x" + "0" * 24 + "ab" * 20
        assert h32_to_h20(t) == "0x" + "ab" * 20
        assert len(h32_to_h20(t)) == 42


class TestTokenLookup:
    def test_known_lowercase(self):
        assert lookup_token("0x9a642d6b3368ddc662ca244badf32cda716005bc") == "QTUM"

    def test_known_case_insensitive(self):
        # the reference lowercases the log address before lookup
        assert lookup_token("0x9A642D6B3368DDC662CA244BADF32CDA716005BC") == "QTUM"

    def test_miss_preserves_original_case(self):
        addr = "0xAbC0000000000000000000000000000000000001"
        assert lookup_token(addr) == f"ERC20({addr})"

    def test_registry_size_and_shape(self):
        assert len(ERC20_TOKEN_BY_ADDRESS) == 42
        assert all(a == a.lower() and len(a) == 42 for a in ERC20_TOKEN_BY_ADDRESS)

    def test_enum_names(self):
        # spot-check non-trivial enum constant names used as symbols
        assert lookup_token("0x0abdace70d3790235af448c88547603b945604ea") == "district0x"
        assert lookup_token("0xd8912c10681d8b21fd3742244f44658dba12264e") == "Pluton"
        assert lookup_token("0x5c543e7ae0a1104f78406c340e9c64fd9fce5170") == "vSlice"


class TestVarcharBounds:
    def test_overlong_values_truncate_in_strict_mode(self, spark):
        """Reference parity (EthereumRecordCursor.java:263-268 /
        EthereumMetadata.java:48-51): varchar(n) columns truncate over-long
        values; Spark StringType is unbounded, so strict mode applies the
        declared widths explicitly."""
        from pyspark.sql import Row

        from presto_ethereum_spark.sources.decode import truncate_varchar_bounds

        long_hash = "0x" + "ab" * 50  # 102 chars, bound is 66
        df = spark.createDataFrame(
            [Row(block_hash=long_hash, block_miner="0x" + "cd" * 30,
                 block_extradata="z" * 1000, block_number=1)]
        )
        out = truncate_varchar_bounds(df, "block").first()
        assert len(out.block_hash) == 66
        assert out.block_hash == long_hash[:66]
        assert len(out.block_miner) == 42
        assert len(out.block_extradata) == 1000  # unbounded stays untouched
        assert out.block_number == 1  # non-varchar untouched

    def test_block_range_read_truncates_in_strict_mode(self, spark, tmp_path):
        """table_for_block_range shares table()'s dispatch, so the strict
        bounds apply to block-range reads too."""
        from presto_ethereum_spark.schemas import CHAIN_BLOCK_SCHEMA
        from presto_ethereum_spark.sources.fixture import EthereumFixtureSource

        row = {f.name: None for f in CHAIN_BLOCK_SCHEMA.fields}
        row.update(number=1, hash="0x" + "ab" * 50, uncles=[], transactions=[])
        path = str(tmp_path / "chain.parquet")
        spark.createDataFrame([row], CHAIN_BLOCK_SCHEMA).write.parquet(path)
        strict = EthereumFixtureSource(spark, path, strict_varchar=True)
        default = EthereumFixtureSource(spark, path)
        [out] = strict.table_for_block_range("block", 1, 1).collect()
        assert out.block_hash == "0x" + "ab" * 32
        [raw] = default.table_for_block_range("block", 1, 1).collect()
        assert len(raw.block_hash) == 102

    def test_wellformed_data_unchanged(self, spark, chain_source):
        """On well-formed chain data the bounds never bite: strict and
        default decodes are identical."""
        from presto_ethereum_spark.sources.fixture import EthereumFixtureSource

        strict = EthereumFixtureSource(
            spark, chain_source.chain_path, strict_varchar=True
        )
        for tbl in ("block", "transaction", "erc20"):
            a, b = chain_source.table(tbl), strict.table(tbl)
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestU256Limbs:
    """Full-range exact uint256 decode (sources/decode.py limb family)."""

    def test_roundtrip_random_uint256(self, spark):
        """hex -> 5 limbs -> canonical hex read-out is the identity for
        values across the whole uint256 range (incl. max and 0)."""
        import random

        from pyspark.sql import functions as F

        from presto_ethereum_spark.sources.decode import (
            hex_to_u256_limb_cols,
            u256_limb_sums_to_hex,
        )

        rng = random.Random(7)
        vals = (
            [0, 1, 2**60 - 1, 2**60, 2**120, 2**255, 2**256 - 1]
            + [rng.getrandbits(rng.randint(1, 256)) for _ in range(60)]
        )
        df = spark.createDataFrame(
            [("0x" + format(v, "x"),) for v in vals], "h string"
        )
        limbs = hex_to_u256_limb_cols(F.col("h"))
        out = df.select(
            "h", u256_limb_sums_to_hex(limbs).alias("back")
        ).collect()
        for r in out:
            assert int(r.back, 16) == int(r.h, 16), (r.h, r.back)
            assert len(r.back) == 66 and r.back.startswith("0x")

    def test_signed_limb_sums_borrow_correctly(self, spark):
        """Per-limb SUM of signed deltas + one carry normalization equals
        Python-int arithmetic, including deltas whose limb differences go
        negative (borrow propagation across all 4 carries)."""
        import random

        from pyspark.sql import functions as F

        from presto_ethereum_spark.sources.decode import (
            hex_to_u256_limb_cols,
            u256_limb_sums_to_hex,
        )

        rng = random.Random(11)
        credits = [rng.getrandbits(250) + 1 for _ in range(20)]  # sum < 2^255
        debits = [rng.randint(1, sum(credits) // 40) for _ in range(15)]
        total = sum(credits) - sum(debits)
        assert total >= 0
        rows = [("0x" + format(v, "x"), 1) for v in credits] + [
            ("0x" + format(v, "x"), -1) for v in debits
        ]
        df = spark.createDataFrame(rows, "h string, sign int")
        limbs = hex_to_u256_limb_cols(F.col("h"))
        signed = df.select(
            *[(F.col("sign") * limb).alias(f"l{i}") for i, limb in enumerate(limbs)]
        )
        agg = signed.agg(*[F.sum(f"l{i}").alias(f"s{i}") for i in range(5)])
        out = agg.select(
            u256_limb_sums_to_hex([F.col(f"s{i}") for i in range(5)]).alias("b")
        ).first()
        assert int(out.b, 16) == total

    def test_negative_or_overflow_total_raises(self, spark):
        """A read-out outside [0, 2^256) must raise loudly, not render a
        wrong wrap-around string."""
        import pytest
        from pyspark.sql import functions as F
        from pyspark.errors import PySparkException

        from presto_ethereum_spark.sources.decode import u256_limb_sums_to_hex

        for limbvals in ([(-5, 0, 0, 0, 0)], [(0, 0, 0, 0, 16**4)]):
            df = spark.createDataFrame(
                limbvals, "l0 long, l1 long, l2 long, l3 long, l4 long"
            ).select(*[F.col(f"l{i}").cast("decimal(38,0)") for i in range(5)])
            with pytest.raises(PySparkException):
                df.select(
                    u256_limb_sums_to_hex(
                        [F.col(f"l{i}") for i in range(5)]
                    ).alias("b")
                ).collect()

    def test_unparseable_hex_is_null_limbs(self, spark):
        from pyspark.sql import functions as F

        from presto_ethereum_spark.sources.decode import hex_to_u256_limb_cols

        df = spark.createDataFrame(
            [("0x",), ("0xzz",), (None,), ("0x" + "f" * 65,)], "h string"
        )
        out = df.select(
            *[c.alias(f"l{i}") for i, c in enumerate(hex_to_u256_limb_cols(F.col("h")))]
        ).collect()
        for r in out:
            assert all(r[f"l{i}"] is None for i in range(5))

    def test_battery_entry_matches_generator_ledger(self, spark):
        """eth_erc20_balances_u256 must equal the fixture generator's own
        Python-int ledger (a third independent computation beside the
        DuckDB oracle)."""
        from presto_ethereum_spark.plans import battery

        df = battery.queries()["eth_erc20_balances_u256"](spark, "unused")
        got = {
            (r.token_address, r.holder): r.balance_hex for r in df.collect()
        }
        truth = {
            (r.token_address, r.holder): r.balance_hex
            for r in spark.read.parquet(
                "fixtures/eth/u256_balances.parquet"
            ).collect()
        }
        assert got == truth and len(truth) > 30
        assert any(int(b, 16) > 2**200 for b in truth.values())

    def test_supply_equals_sum_of_holder_balances(self, spark):
        """Cross-entry consistency: eth_u256_supply's outstanding figure
        must equal the holder ledger summed per token (exact Python-int
        arithmetic over both entries' hex read-outs)."""
        from presto_ethereum_spark.plans import battery

        bal = battery.queries()["eth_erc20_balances_u256"](spark, "x").collect()
        sup = {
            r.token_address: (int(r.outstanding_hex, 16), r.n_mints, r.n_burns)
            for r in battery.queries()["eth_u256_supply"](spark, "x").collect()
        }
        agg: dict[str, int] = {}
        for r in bal:
            agg[r.token_address] = agg.get(r.token_address, 0) + int(
                r.balance_hex, 16
            )
        assert agg == {t: v for t, (v, _, _) in sup.items()}
        assert all(m > 0 for _, m, _ in sup.values())
        assert any(b > 0 for _, _, b in sup.values())  # burns covered

    def test_top_holders_hex_rank_is_numeric_rank(self, spark):
        """The fixed-width hex string is order-isomorphic to the uint256 it
        encodes: the entry's per-token rank must equal a rank computed on
        Python ints."""
        from presto_ethereum_spark.plans import battery

        bal = battery.queries()["eth_erc20_balances_u256"](spark, "x").collect()
        by_tok: dict[str, list] = {}
        for r in bal:
            by_tok.setdefault(r.token_address, []).append(
                (int(r.balance_hex, 16), r.holder)
            )
        want = set()
        for t, hs in by_tok.items():
            hs.sort(key=lambda p: (-p[0], p[1]))
            for i, (_, h) in enumerate(hs[:5], start=1):
                want.add((t, h, i))
        got = {
            (r.token_address, r.holder, r.rnk)
            for r in battery.queries()["eth_u256_top_holders"](
                spark, "x"
            ).collect()
        }
        assert got == want

    def test_signed_readout_roundtrip(self, spark):
        """u256_limb_sums_to_signed_hex renders sign + 64-hex magnitude for
        ANY total in (-2^256, 2^256): property-checked against Python-int
        arithmetic, including negatives (the partial-range case the strict
        read-out raises on), zero, and near-boundary magnitudes."""
        import random

        from pyspark.sql import functions as F

        from presto_ethereum_spark.sources.decode import (
            hex_to_u256_limb_cols,
            u256_limb_sums_to_signed_hex,
        )

        rng = random.Random(23)
        vals = [0, 1, -1, 2**256 - 1, -(2**256 - 1), 2**60, -(2**60)] + [
            (1 if rng.random() < 0.5 else -1) * rng.getrandbits(rng.randint(1, 256))
            for _ in range(60)
        ]
        rows = [("0x" + format(abs(v), "x"), 1 if v >= 0 else -1) for v in vals]
        df = spark.createDataFrame(rows, "h string, sign int")
        limbs = hex_to_u256_limb_cols(F.col("h"))
        out = df.select(
            "h",
            "sign",
            u256_limb_sums_to_signed_hex(
                [(F.col("sign") * limb) for limb in limbs]
            ).alias("back"),
        ).collect()
        for r in out:
            want = int(r.h, 16) * r.sign
            got = -int(r.back[1:], 16) if r.back.startswith("-") else int(r.back, 16)
            assert got == want, (r.h, r.sign, r.back)
            body = r.back[3:] if r.back.startswith("-") else r.back[2:]
            assert len(body) == 64  # fixed-width magnitude in both signs

    def test_signed_readout_overflow_raises(self, spark):
        """Magnitudes at/above 2^256 still raise in signed mode — both
        directions (the signed variant relaxes ONLY the sign, not the
        width)."""
        import pytest
        from pyspark.errors import PySparkException
        from pyspark.sql import functions as F

        from presto_ethereum_spark.sources.decode import (
            u256_limb_sums_to_signed_hex,
        )

        for limbvals in ([(0, 0, 0, 0, 16**4)], [(0, 0, 0, 0, -(16**4))]):
            df = spark.createDataFrame(
                limbvals, "l0 long, l1 long, l2 long, l3 long, l4 long"
            ).select(*[F.col(f"l{i}").cast("decimal(38,0)") for i in range(5)])
            with pytest.raises(PySparkException):
                df.select(
                    u256_limb_sums_to_signed_hex(
                        [F.col(f"l{i}") for i in range(5)]
                    ).alias("b")
                ).collect()

    def test_range_positions_matches_python_ledger(self, spark):
        """eth_u256_range_positions must equal a Python-int signed ledger
        over the same truncated block range — and the range must actually
        contain net-negative holders, or the entry isn't testing the
        signed path."""
        from presto_ethereum_spark.plans import battery

        rows = spark.read.parquet("fixtures/eth/u256_logs.parquet").collect()
        zero = "0x" + "0" * 40
        topic = (
            "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
        )
        led: dict[tuple, int] = {}
        cnt: dict[tuple, int] = {}
        for r in rows:
            if not (150 <= r.blocknumber <= 299):
                continue
            if (
                len(r.topics) < 3
                or r.topics[0].lower() != topic
                or len(r.data) != 66
            ):
                continue
            v = int(r.data[2:], 16)
            frm, to = "0x" + r.topics[1][-40:], "0x" + r.topics[2][-40:]
            for addr, d in ((frm, -v), (to, v)):
                if addr == zero:
                    continue
                k = (r.address, addr)
                led[k] = led.get(k, 0) + d
                cnt[k] = cnt.get(k, 0) + 1
        got = {
            (r.token_address, r.holder): (r.position_hex, r.sign, r.n_transfers)
            for r in battery.queries()["eth_u256_range_positions"](
                spark, "x"
            ).collect()
        }
        assert set(got) == set(led)
        n_neg = 0
        for k, v in led.items():
            hexs, sign, n = got[k]
            want_sign = -1 if v < 0 else (0 if v == 0 else 1)
            assert sign == want_sign, (k, v, hexs)
            mag = int(hexs[1:], 16) if hexs.startswith("-") else int(hexs, 16)
            assert mag == abs(v) and n == cnt[k], (k, v, hexs)
            n_neg += sign == -1
        assert n_neg >= 5  # the fixture slice genuinely nets negative

    def test_nonhex_right_length_data_excluded(self, spark):
        """ADVICE r12 #3: a right-length (66-char) but non-hex data word
        must be EXCLUDED from both exact ledgers (u256 and DECIMAL), not
        counted with NULL limbs or a NULL delta (which would inflate
        n_transfers while adding zero value — and diverge from the
        oracle, whose CAST hard-errors).  The DECIMAL words keep the 34
        leading zero digits of its contract, so only the hex check can
        drop the bad one."""
        from presto_ethereum_spark.constants import TRANSFER_EVENT_TOPIC
        from presto_ethereum_spark.sources.decode import (
            erc20_transfer_deltas,
            erc20_transfer_deltas_u256,
        )

        h32 = lambda a: "0x" + a[2:].rjust(64, "0")  # noqa: E731
        a1, a2 = "0x" + "1" * 40, "0x" + "2" * 40
        tok = "0x" + "e" * 40
        for decode, values, pad in (
            (erc20_transfer_deltas_u256, [f"l{i}" for i in range(5)], ""),
            (erc20_transfer_deltas, ["delta"], "0" * 34),
        ):
            n = 64 - len(pad)
            good = "0x" + pad + "5" * n
            bad = "0x" + pad + "g" * n  # length 66, not hex
            upper = "0x" + pad + "A" * n  # uppercase hex is VALID wire data
            rows = [
                (tok, [TRANSFER_EVENT_TOPIC, h32(a1), h32(a2)], good, 1),
                (tok, [TRANSFER_EVENT_TOPIC, h32(a1), h32(a2)], bad, 2),
                (tok, [TRANSFER_EVENT_TOPIC, h32(a1), h32(a2)], upper, 3),
            ]
            logs = spark.createDataFrame(
                rows,
                "address string, topics array<string>, data string,"
                " blocknumber long",
            )
            out = decode(logs).collect()
            name = decode.__name__
            # bad row dropped
            assert {r.block_number for r in out} == {1, 3}, name
            # surviving rows decode fully — no NULL-valued ledger rows
            assert all(r[v] is not None for r in out for v in values), name

    def test_decimal_ledger_boundary(self, spark):
        """The DECIMAL ledger's contract ends at 2^120: 2^120 - 1 decodes
        exactly, and a word whose 34th digit is nonzero (2^120) is absent
        from the DECIMAL ledger but present, exactly, in the u256 one."""
        from decimal import Decimal

        from presto_ethereum_spark.constants import TRANSFER_EVENT_TOPIC
        from presto_ethereum_spark.sources.decode import (
            U256_LIMB_BASE,
            erc20_transfer_deltas,
            erc20_transfer_deltas_u256,
        )

        topics = [TRANSFER_EVENT_TOPIC, "0x" + "1" * 64, "0x" + "2" * 64]
        logs = spark.createDataFrame(
            [
                ("0x" + "e" * 40, topics, "0x" + "0" * 34 + "f" * 30, 1),
                ("0x" + "e" * 40, topics, "0x" + "0" * 33 + "1" + "0" * 30, 2),
            ],
            "address string, topics array<string>, data string,"
            " blocknumber long",
        )
        dec = {
            r.block_number: r.delta
            for r in erc20_transfer_deltas(logs).collect()
            if r.is_in
        }
        assert dec == {1: Decimal(2**120 - 1)}
        u256 = {
            r.block_number: sum(
                int(r[f"l{i}"]) * U256_LIMB_BASE**i for i in range(5)
            )
            for r in erc20_transfer_deltas_u256(logs).collect()
            if r.is_in
        }
        assert u256 == {1: 2**120 - 1, 2: 2**120}

    def test_via_table_ledger_exercises_signed_path(self, spark):
        """eth_u256_balances_via_table must (a) contain net-NEGATIVE
        positions (the chain fixture's synthetic transfers are not
        mint-disciplined, so the signed read-out is load-bearing, not
        decorative) and (b) agree with an independent Python-int ledger
        over the golden erc20 table restricted to exact-hex rows."""
        from presto_ethereum_spark.plans import battery
        from presto_ethereum_spark.sources.pyrows import erc20_value_hex

        rows = spark.read.parquet("fixtures/eth/chain_blocks.parquet").collect()
        from presto_ethereum_spark.constants import (
            TRANSFER_EVENT_TOPIC,
            h32_to_h20,
            lookup_token,
        )

        led: dict[tuple, int] = {}
        zero = "0x" + "0" * 40
        for b in rows:
            for t in b.transactions:
                for lg in t.logs or []:
                    topics = list(lg.topics)
                    data = lg.data
                    if not topics or topics[0].lower() != TRANSFER_EVENT_TOPIC:
                        continue
                    nw = (len(data) - 2) // 64
                    if len(topics) < 3 and len(topics) + nw != 4:
                        continue
                    if len(topics) < 3:
                        fields = [
                            data[2 + 64 * i : 2 + 64 * (i + 1)]
                            for i in range(nw)
                        ]
                        i = 0
                        while len(topics) < 3:
                            topics.append("0x" + fields[i])
                            i += 1
                        data = "0x" + fields[i]
                    hx = erc20_value_hex(data)
                    if hx is None:
                        continue
                    v = int(hx, 16)
                    tok = lookup_token(lg.address)
                    for addr, dv in (
                        (h32_to_h20(topics[1]), -v),
                        (h32_to_h20(topics[2]), v),
                    ):
                        if addr == zero:
                            continue
                        led[(tok, addr)] = led.get((tok, addr), 0) + dv
        got = {
            (r.erc20_token, r.holder): r.position_hex
            for r in battery.queries()["eth_u256_balances_via_table"](
                spark, "x"
            ).collect()
        }
        assert set(got) == set(led) and len(led) > 100
        n_neg = 0
        for k, v in led.items():
            hx = got[k]
            mag = int(hx[1:], 16) if hx.startswith("-") else int(hx, 16)
            assert mag == abs(v) and hx.startswith("-") == (v < 0), (k, v, hx)
            n_neg += v < 0
        assert n_neg >= 10  # the signed path is genuinely exercised
