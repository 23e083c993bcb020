"""Planning-time predicate transposition: filters -> block ranges.

Mirrors the reference's getTableLayouts logic (EthereumMetadata.java:179-237):

- ``block_number`` / ``tx_blocknumber`` / ``erc20_blocknumber`` comparisons
  narrow the scanned block range (EthereumBlockRange.fromMarkers,
  EthereumBlockRange.java:11-39: EXACTLY keeps the bound, ABOVE/BELOW nudge
  by one, unbounded low -> 1, unbounded high -> open);
- ``block_hash`` / ``tx_blockhash`` point predicates resolve to a one-block
  range with a planning-time lookup (EthereumMetadata.java:200-214 issues an
  ``eth_getBlockByHash`` RPC *during optimization* — same here, driver-side);
- ``block_timestamp`` bounds transpose via O(log head) binary search over
  block timestamps (EthereumMetadata.java:215-229, :293-318; ±1 offset for
  inexact hits).

The produced ranges only *narrow the scan*; following the reference's
unenforced contract (EthereumMetadata.java:236) every filter is reported
back as un-pushed so Spark re-applies the full predicate post-scan.
Conjunctive filters (the only kind the Python DataSource API delivers)
intersect their ranges.

**Multi-range (disjunctive) pruning.**  The reference carries a *list* of
block ranges per scan (``EthereumBlockRange`` list in
EthereumTableLayoutHandle.java:13-36, consumed by the ``getOrderedRanges``
loop at EthereumMetadata.java:190-199) so ``WHERE a BETWEEN .. OR a BETWEEN
..`` prunes both islands.  Spark's Python DataSource API delivers only the
top-level conjunction, so arbitrary ORs cannot arrive via ``pushFilters``
(re-verified against pyspark 4.1.2 in r11: datasource.py:523 still
documents the filter list as "the AND of the elements") — but the two
expressible forms are honored:

- ``In`` filters split into one range per *consecutive run* of values
  (``block_number IN (5, 6, 1_000_000)`` scans 2 islands, not 999_996
  blocks);
- the source's ``block_ranges`` option ("lo:hi,lo:hi,...") declares the
  disjunction explicitly at load time, mirroring the reference's
  ordered-ranges list for queries whose OR Spark keeps post-scan.

All list-producing paths normalize: sort, drop empty, merge
overlapping/adjacent — the ordered-disjoint contract of getOrderedRanges.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
)

# column -> the block-number-ish attribute per table, EthereumMetadata.java:190-229
BLOCK_NUMBER_COLUMNS = {"block_number", "tx_blocknumber", "erc20_blocknumber"}
BLOCK_HASH_COLUMNS = {"block_hash", "tx_blockhash"}
TIMESTAMP_COLUMNS = {"block_timestamp"}

OPEN_END = -1  # reference sentinel for "up to chain head"


@dataclass(frozen=True)
class BlockRange:
    start: int  # >= 1
    end: int  # OPEN_END = unbounded

    def intersect(self, other: "BlockRange") -> "BlockRange":
        start = max(self.start, other.start)
        if self.end == OPEN_END:
            end = other.end
        elif other.end == OPEN_END:
            end = self.end
        else:
            end = min(self.end, other.end)
        return BlockRange(start, end)

    @property
    def is_empty(self) -> bool:
        return self.end != OPEN_END and self.start > self.end


FULL_CHAIN = BlockRange(1, OPEN_END)


def normalize_ranges(ranges: list[BlockRange]) -> list[BlockRange]:
    """Sort, drop empties, merge overlapping/adjacent ranges — the
    ordered-disjoint contract of the reference's getOrderedRanges list
    (EthereumMetadata.java:190-199)."""
    rs = sorted(
        (r for r in ranges if not r.is_empty),
        key=lambda r: (r.start, float("inf") if r.end == OPEN_END else r.end),
    )
    merged: list[BlockRange] = []
    for r in rs:
        if merged:
            last = merged[-1]
            if last.end == OPEN_END:
                break  # everything after is covered
            if r.start <= last.end + 1:  # overlap or adjacency
                end = OPEN_END if r.end == OPEN_END else max(last.end, r.end)
                merged[-1] = BlockRange(last.start, end)
                continue
        merged.append(r)
    return merged


def intersect_range_lists(
    a: list[BlockRange], b: list[BlockRange]
) -> list[BlockRange]:
    """Pairwise intersection of two ordered-disjoint range lists (the AND of
    two disjunctions), normalized."""
    return normalize_ranges([ra.intersect(rb) for ra in a for rb in b])


def parse_ranges_option(spec: str) -> list[BlockRange]:
    """Parse the ``block_ranges`` source option: "lo:hi,lo:hi,..." (hi may
    be '*' for open-ended), e.g. "1:10,1000000:1000010"."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        lo, _, hi = part.partition(":")
        out.append(
            BlockRange(
                int(lo), OPEN_END if hi.strip() in ("*", "") else int(hi)
            )
        )
    return normalize_ranges(out)


def find_block_by_timestamp(get_timestamp, head: int, timestamp: int, offset: int) -> int:
    """Binary search for the block whose timestamp equals ``timestamp``;
    on an inexact hit return ``middle + offset`` (EthereumMetadata.java:293-318).

    ``get_timestamp(n)`` supplies a block's timestamp — one RPC per probe in
    live mode (O(log head) total), a parquet metadata lookup in fixture mode.
    """
    if head <= 1:
        return head
    low, high = 1, head
    middle = low + (high - low) // 2
    while low <= high:
        middle = low + (high - low) // 2
        ts = get_timestamp(middle)
        if ts < timestamp:
            low = middle + 1
        elif ts > timestamp:
            high = middle - 1
        else:
            return middle
    return middle + offset


def ranges_from_filters(
    filters: list[Filter],
    resolve_hash=None,
    get_timestamp=None,
    head: int | None = None,
) -> list[BlockRange]:
    """Intersect every recognized conjunctive filter into an
    ordered-disjoint list of BlockRanges (the reference's getOrderedRanges
    shape; a single filter may itself contribute a disjunction via ``In``).

    ``resolve_hash(h)`` -> block number (or None if unknown);
    ``get_timestamp``/``head`` enable timestamp transposition.
    Unrecognized filters are ignored (they are re-applied by Spark anyway).
    """
    acc = [FULL_CHAIN]
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            continue
        col = attr[0].lower()
        if col in BLOCK_NUMBER_COLUMNS:
            acc = intersect_range_lists(acc, _number_ranges(f))
        elif col in BLOCK_HASH_COLUMNS and resolve_hash is not None:
            if isinstance(f, EqualTo) and isinstance(f.value, str):
                n = resolve_hash(f.value)
                if n is not None:
                    acc = intersect_range_lists(acc, [BlockRange(n, n)])
        elif col in TIMESTAMP_COLUMNS and get_timestamp is not None and head:
            acc = intersect_range_lists(
                acc, [_timestamp_range(f, get_timestamp, head)]
            )
    return acc


def _upto(start: int, end: int) -> list[BlockRange]:
    """The closed range ``[start, end]``; an end below 1 matches no valid
    block and is the empty list, never ``BlockRange(_, OPEN_END)`` (end
    = -1 IS the unbounded sentinel and would scan the whole chain)."""
    return [BlockRange(start, end)] if end >= 1 else []


def _number_ranges(f: Filter) -> list[BlockRange]:
    v = getattr(f, "value", None)
    if isinstance(f, EqualTo) and isinstance(v, int):
        return _upto(v, v)
    if isinstance(f, GreaterThan) and isinstance(v, int):
        return [BlockRange(v + 1, OPEN_END)]  # ABOVE bound: value + 1
    if isinstance(f, GreaterThanOrEqual) and isinstance(v, int):
        return [BlockRange(v, OPEN_END)]  # EXACTLY bound
    if isinstance(f, LessThan) and isinstance(v, int):
        return _upto(1, v - 1)  # BELOW bound: value - 1
    if isinstance(f, LessThanOrEqual) and isinstance(v, int):
        return _upto(1, v)
    if isinstance(f, In):
        vals = sorted({x for x in f.value if isinstance(x, int)})
        if vals:
            # one range per consecutive run — the disjunctive case the
            # DataSource API can actually deliver
            runs, lo = [], vals[0]
            for prev, cur in zip(vals, vals[1:]):
                if cur != prev + 1:
                    runs += _upto(lo, prev)
                    lo = cur
            return runs + _upto(lo, vals[-1])
    return [FULL_CHAIN]


def _timestamp_range(f: Filter, get_timestamp, head: int) -> BlockRange:
    v = getattr(f, "value", None)
    if not isinstance(v, int):
        return FULL_CHAIN
    if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
        return BlockRange(
            max(1, find_block_by_timestamp(get_timestamp, head, v, -1)), OPEN_END
        )
    if isinstance(f, (LessThan, LessThanOrEqual)):
        return BlockRange(1, find_block_by_timestamp(get_timestamp, head, v, +1))
    if isinstance(f, EqualTo):
        lo = find_block_by_timestamp(get_timestamp, head, v, -1)
        hi = find_block_by_timestamp(get_timestamp, head, v, +1)
        return BlockRange(max(1, lo), hi)
    return FULL_CHAIN


# ---------------------------------------------------------------------------
# SQL OR-of-ranges rewrite (driver-side)
# ---------------------------------------------------------------------------
#
# Spark's Python DataSource pushFilters API delivers only the top-level
# CONJUNCTION, so a disjunctive block predicate (`WHERE bn BETWEEN a AND b
# OR bn BETWEEN c AND d`) never reaches the live source as prunable
# structure — the one observable pruning behavior the reference has
# (EthereumMetadata.java:190-199 walks an ordered RANGE LIST) that the API
# cannot express.  This helper closes the gap from the other end: parse the
# predicate STRING the user would put in `.where(...)`, transpose its
# OR/AND/BETWEEN/IN structure over range algebra, and hand the result to
# the existing `block_ranges` load option.  The source still yields every
# filter back (unenforced contract), so the caller applies the same
# predicate post-scan and the rewrite can only ever NARROW the scan, never
# change results.

# SQL comparison operator -> the pushFilters filter whose range mapping
# (:func:`_number_ranges`) it shares
_SQL_CMP_FILTERS = {
    "=": EqualTo,
    "==": EqualTo,
    ">": GreaterThan,
    ">=": GreaterThanOrEqual,
    "<": LessThan,
    "<=": LessThanOrEqual,
}


def _sql_tokens(pred: str) -> list[str]:
    import re

    out = []
    for m in re.finditer(
        r"\s*(>=|<=|==|!=|<>|[<>=(),]|'[^']*'|[A-Za-z_][A-Za-z_0-9]*|\d[\d_]*)",
        pred,
    ):
        out.append(m.group(1))
    joined = "".join(out).replace(" ", "")
    stripped = "".join(pred.split())
    if joined != stripped:
        raise ValueError(f"unsupported characters in predicate: {pred!r}")
    return out


def ranges_from_sql(pred: str) -> list[BlockRange]:
    """Transpose a SQL boolean predicate over block-number columns into an
    ordered-disjoint range list.  Grammar: OR/AND trees of parenthesized
    terms; `col (>=|>|<=|<|=) n`, `n (>=|>|<=|<|=) col`, `col BETWEEN a
    AND b`, `col IN (a, b, ...)`.  Predicates on non-block columns are
    range-neutral: FULL in an AND (they narrow nothing) and FULL in an OR
    (the disjunct may select any block) — both conservative, so the result
    is always a superset of the blocks the predicate can match.  Raises on
    syntax it does not understand (NOT, subqueries, arithmetic): a pruning
    helper must fail loudly rather than mis-prune.
    """
    toks = _sql_tokens(pred)
    pos = 0

    def peek():
        return toks[pos].upper() if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_int():
        t = take()
        if not t.replace("_", "").isdigit():
            raise ValueError(f"expected integer, got {t!r}")
        return int(t.replace("_", ""))

    def parse_value():
        # int literal, or a single-quoted string (valid only against
        # non-block columns, which are range-neutral anyway)
        t = toks[pos]
        if t.startswith("'"):
            take()
            return t[1:-1]
        return parse_int()

    def predicate():
        # number op col (mirrored) | col op number | col BETWEEN | col IN
        if toks[pos].replace("_", "").isdigit():
            n = parse_int()
            op = take()
            col = take().lower()
            mirror = {">": "<", "<": ">", ">=": "<=", "<=": ">=", "=": "=", "==": "="}
            if op not in mirror:
                raise ValueError(f"unsupported operator {op!r}")
            return _sql_cmp(col, mirror[op], n)
        col = take().lower()
        if col.upper() in ("NOT", "EXISTS", "CASE", "SELECT"):
            raise ValueError(f"unsupported construct {col.upper()} in predicate")
        t = peek()
        if t == "BETWEEN":
            take()
            lo = parse_value()
            if take().upper() != "AND":
                raise ValueError("BETWEEN requires AND")
            hi = parse_value()
            if col not in BLOCK_NUMBER_COLUMNS:
                return [FULL_CHAIN]
            if not isinstance(lo, int) or not isinstance(hi, int):
                raise ValueError(f"non-integer BETWEEN bound on {col}")
            return [BlockRange(lo, hi)]
        if t == "IN":
            take()
            if take() != "(":
                raise ValueError("IN requires (")
            vals = [parse_value()]
            while peek() == ",":
                take()
                vals.append(parse_value())
            if take() != ")":
                raise ValueError("IN list not closed")
            if col not in BLOCK_NUMBER_COLUMNS:
                return [FULL_CHAIN]
            if not all(isinstance(v, int) for v in vals):
                raise ValueError(f"non-integer IN value on {col}")
            return _number_ranges(In((col,), tuple(vals)))
        op = take()
        v = parse_value()
        return _sql_cmp(col, op, v)

    def _sql_cmp(col, op, n):
        if col in BLOCK_NUMBER_COLUMNS and not isinstance(n, int):
            raise ValueError(f"non-integer comparison value on {col}: {n!r}")
        if op not in _SQL_CMP_FILTERS and op not in ("!=", "<>"):
            raise ValueError(f"unsupported operator {op!r}")
        if col not in BLOCK_NUMBER_COLUMNS or op in ("!=", "<>"):
            # the complement of a point is (effectively) the full chain;
            # range-neutral like non-block columns — the post-scan
            # ``.where`` keeps semantics exact
            return [FULL_CHAIN]
        return _number_ranges(_SQL_CMP_FILTERS[op]((col,), n))

    def factor():
        if peek() == "(":
            take()
            r = expr()
            if take() != ")":
                raise ValueError("unbalanced parens")
            return r
        return predicate()

    def term():
        r = factor()
        while peek() == "AND":
            take()
            r = intersect_range_lists(r, factor())
        return r

    def expr():
        r = term()
        while peek() == "OR":
            take()
            r = normalize_ranges(r + term())
        return r

    out = expr()
    if pos != len(toks):
        raise ValueError(f"trailing tokens from {toks[pos]!r} in {pred!r}")
    # a single top-level term bypasses the OR/AND combiners, so normalize
    # here too: the documented contract is an ordered-disjoint empty-free
    # list (e.g. "BETWEEN 10 AND 5" must come back [] — not [10,5]) of
    # valid blocks (>= 1), as ranges_from_filters returns
    return intersect_range_lists([FULL_CHAIN], out)


def ranges_option_from_sql(pred: str) -> str:
    """``ranges_from_sql`` serialized for the source's ``block_ranges``
    load option ("lo:hi,lo:hi,...", '*' = open end)."""
    return ",".join(
        f"{r.start}:{'*' if r.end == OPEN_END else r.end}"
        for r in ranges_from_sql(pred)
    )
