"""Bounded pair-generation operators Spark lacks natively: banded temporal
self-joins and edit-distance blocking.

Both follow the candidate-generation + exact-verify shape the dedup family
(operators/dedup.py LSH banding, simhash chunks) already proves at scale:
an equi-join on a coarse blocking key bounds the candidate set, and the
exact predicate runs on candidates only — never as a cross join or a
broadcast-nested-loop range join.

- :func:`banded_interval_self_join` — same-key row pairs within a time
  window Δ. The naive form is a non-equi self-join (``b.ts - a.ts BETWEEN
  0 AND Δ``), which Spark executes as BroadcastNestedLoopJoin or a
  per-key cross product. Bucketizing time into Δ-wide cells turns it into
  ONE shuffle on (key, cell): a pair within Δ always spans at most two
  adjacent cells, so keying the earlier row by its own cell and the later
  row by {cell, cell-1} finds every pair exactly once.
- :func:`range_join` — the two-relation generalization: points matched
  into interval rows (``lo <= p <= hi``, optional equi-keys) by exploding
  intervals over fixed-width cells and equi-joining points to their own
  cell — one shuffle, exact BETWEEN on candidates only, never a
  BroadcastNestedLoopJoin.
- :func:`edit_distance_pairs` — string pairs with Levenshtein distance
  ≤ 1 via deletion-neighborhood blocking (the FastSS / SymSpell scheme):
  two strings within one edit always share a member of
  {s} ∪ {s minus one char}, so an equi-join on the variant key generates
  a candidate superset linear in Σ|s|, and ``levenshtein`` verifies
  candidates only. The reference has no fuzzy matching; this is the
  entity-resolution / near-key-matching step a migration validation
  pipeline needs when source and target keys drifted (README §beyond).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def banded_interval_self_join(
    df: DataFrame,
    key: str,
    ts: str,
    id_col: str,
    delta_us: int,
    max_cell: int | None = None,
) -> DataFrame:
    """All same-``key`` row pairs with ``0 <= ts_b - ts_a <= delta_us``,
    ordered (ties broken by ``id_col``), each pair emitted exactly once.

    Returns ``(key, id_a, id_b, ts_a, ts_b, gap_us)``.

    Cost: one shuffle of each side on (key, cell) where
    ``cell = floor(ts / delta_us)`` — the later side fans out 2× (its own
    cell and the previous one), candidate volume is Σ|cell_a|·|cell_b| over
    co-keyed adjacent cells, and the exact window/tie predicate runs on
    candidates only. Correctness of the banding: ``ts_b - ts_a <= Δ`` and
    cell width = Δ imply ``cell(a) ∈ {cell(b), cell(b)-1}``, and the two
    exploded keys are always distinct, so no pair can match twice.

    ``max_cell`` is the same pathological-skew guard as the LSH/simhash
    ``max_bucket`` (operators/dedup.py:_cap_buckets): a key emitting
    thousands of rows inside one Δ window (a bot user, a monitoring
    heartbeat) makes that cell quadratic; capping drops cells with more
    than ``max_cell`` earlier-side rows before the join. Default None =
    exhaustive exact semantics (the oracle-checked path).
    """
    # exact long floor-division: (t - pmod(t, Δ)) div Δ. F.floor(t / Δ)
    # would divide in double precision — above 2^53 (ns-scale epochs) the
    # rounding can shift a boundary timestamp a full cell, and a pair
    # whose cells then differ by 2 is silently dropped. pmod keeps floor
    # (not truncation) semantics for pre-epoch negatives.
    cell = F.expr(f"(_t - pmod(_t, {delta_us})) div {delta_us}")
    base = df.select(
        F.col(key).alias("_k"),
        F.col(ts).cast("long").alias("_t"),
        F.col(id_col).alias("_id"),
    )
    a = base.select(
        "_k",
        F.col("_t").alias("_ta"),
        F.col("_id").alias("_ida"),
        cell.alias("_cell"),
    )
    if max_cell is not None:
        from database_migration_spark.operators.dedup import _cap_buckets

        a = _cap_buckets(a, ["_k", "_cell"], max_cell)
    b = base.select(
        "_k",
        F.col("_t").alias("_tb"),
        F.col("_id").alias("_idb"),
        F.explode(F.array(cell, cell - 1)).alias("_cell"),
    )
    gap = F.col("_tb") - F.col("_ta")
    ordered = (F.col("_ta") < F.col("_tb")) | (
        (F.col("_ta") == F.col("_tb")) & (F.col("_ida") < F.col("_idb"))
    )
    return (
        a.join(b, ["_k", "_cell"])
        .where((gap >= 0) & (gap <= delta_us) & ordered)
        .select(
            F.col("_k").alias(key),
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.col("_ta").alias("ts_a"),
            F.col("_tb").alias("ts_b"),
            gap.alias("gap_us"),
        )
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    keys: list[str] | None = None,
    cell_width: int | None = None,
    how: str = "inner",
    max_cell: int | None = None,
) -> DataFrame:
    """Generic two-relation range join: each point row matched to every
    interval row with ``lo <= point <= hi`` (optionally equi-keyed on
    ``keys``) — IP→CIDR block, reading→validity window, error→session.

    Spark executes the naive ``ON p BETWEEN lo AND hi`` as
    BroadcastNestedLoopJoin (full |P|×|I| predicate evaluations when the
    interval side doesn't fit a broadcast — the first thing that dies at
    100 TB). This is the cell-decomposition shape instead: intervals
    explode to the ``cell_width``-wide cells they overlap, points key by
    their own cell, ONE equi-shuffle on (keys…, cell) bounds the
    candidates, and the exact BETWEEN runs on candidates only. A point
    lies in exactly one cell, so no match can be produced twice.

    ``cell_width`` trades interval fan-out (len/width + 1 cells per
    interval) against candidate density (points per cell); default is the
    mean interval length, clamped to ≥ 1 — one tiny scalar pre-scan, the
    same planner-side split the binpack sizer uses. All cell arithmetic
    is exact long division (``div``/``pmod`` floor semantics — the
    F.floor(col/N) double trap, CLAUDE.md).

    ``how='left'`` keeps unmatched points with NULL interval columns.
    ``max_cell`` drops cells holding more than that many INTERVAL rows
    before the join (the LSH max_bucket guard: one mega-cell under a
    hot key otherwise goes quadratic). Default None = exact.

    Rows with NULL point/lo/hi and inverted intervals (lo > hi) match
    nothing, as their SQL BETWEEN would.

    Columns out: every ``points`` column, then every ``intervals`` column
    (shared ``keys`` emitted once; any other name collision raises).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner or left, got {how!r}")
    keys = keys or []
    if "_cell" in points.columns or "_cell" in intervals.columns:
        raise ValueError("inputs may not already carry a _cell column")
    overlap = [
        c for c in intervals.columns
        if c in points.columns and c not in keys
    ]
    if overlap:
        raise ValueError(
            f"range_join output names collide: {sorted(overlap)} — rename "
            "the inputs' columns (join keys may be shared; payload may not)"
        )
    p_valid = points.where(F.col(point_col).isNotNull())
    i_valid = intervals.where(
        F.col(lo_col).isNotNull()
        & F.col(hi_col).isNotNull()
        & (F.col(lo_col) <= F.col(hi_col))
    )
    if cell_width is None:
        probe = i_valid.select(
            F.avg(F.col(hi_col).cast("long") - F.col(lo_col).cast("long")).alias("w")
        )
        row = probe.first()
        cell_width = max(1, int(row["w"])) if row and row["w"] is not None else 1
    w = int(cell_width)
    if w <= 0:
        raise ValueError("cell_width must be positive")

    def cell_of(col: str) -> str:
        c = f"CAST({col} AS BIGINT)"
        return f"(({c} - pmod({c}, {w})) div {w})"

    i_cells = i_valid.withColumn(
        "_cell",
        F.explode(
            F.expr(f"sequence({cell_of(lo_col)}, {cell_of(hi_col)})")
        ),
    )
    if max_cell is not None:
        from database_migration_spark.operators.dedup import _cap_buckets

        i_cells = _cap_buckets(i_cells, [*keys, "_cell"], max_cell)
    p_cells = p_valid.withColumn("_cell", F.expr(cell_of(point_col)))
    matched = (
        p_cells.join(i_cells, [*keys, "_cell"])
        .where(F.col(point_col).between(F.col(lo_col), F.col(hi_col)))
        .drop("_cell")
    )
    if how == "inner":
        return matched
    from pyspark import StorageLevel

    # matched feeds the anti-join AND the final union — persist, or the
    # cell-explode join (the operator's dominant cost) executes twice
    matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
    # left: re-attach the points that matched nothing. The anti-join must
    # be NULL-SAFE on every point column — plain equality would let a
    # matched row with a NULL payload column "fail to match itself" and
    # reappear as a second, unmatched output row (the changed_cells
    # round-6 lesson). Cost: one extra |P| + |matched| shuffle, the price
    # of outer semantics without a per-row id.
    m = matched.select(*points.columns).alias("_m")
    p = points.alias("_p")
    cond = None
    for c in points.columns:
        e = F.col(f"_p.{c}").eqNullSafe(F.col(f"_m.{c}"))
        cond = e if cond is None else (cond & e)
    ivl_payload = [c for c in intervals.columns if c not in keys]
    unmatched = p.join(m, cond, "left_anti").select(
        "*",
        *[
            F.lit(None).cast(intervals.schema[c].dataType).alias(c)
            for c in ivl_payload
        ],
    )
    return matched.unionByName(unmatched)


def _positioned_keys(col) -> F.Column:
    """FastSS deletion-neighborhood blocking keys WITH their deletion
    position (the position filter, measured round 9). The underlying
    family is {s} ∪ {s with one char deleted} — the exact lev≤1 blocking
    set: an equal pair shares s itself, an insert/delete pair shares the
    shorter string, a substitution pair shares the variant with the
    differing position deleted from both sides. Here index 0 is the
    string itself, index i ≥ 1 the variant with character i deleted —
    ``posexplode`` turns it into (pos, variant) rows. Two strings at
    lev≤1 ALWAYS share a key under the filter
    ``pos_a = pos_b OR pos_a = 0 OR pos_b = 0``:
    a substitution at position i shares the pos-i variant on both sides,
    an insert/delete pair shares (shorter string, pos 0) vs (deletion at
    the insert point, pos i), an equal pair shares pos 0. And NOTHING
    else passes: s\\\\i == t\\\\i with s != t forces the difference to sit
    exactly at i (lev 1), and a pos-0 match literally IS the other
    string's deletion variant (lev 1) — so the filter admits true pairs
    ONLY, killing the distance-2 false-positive class ("ab"/"ba" sharing
    "a" at different positions) that measured 74 % of candidate volume
    at ×100 (99.9 M candidates for 26.25 M true pairs). Duplicates are
    NOT deduped: a repeated-char run yields the same variant at several
    positions, and dropping all but one breaks the same-position
    guarantee ("ba"/"bb" share variant "b" only at pos 2, but "bb"
    dedupes it to pos 1). There is deliberately NO unpositioned variant
    of this helper: a position-less deletion-key join readmits the
    distance-2 false-positive class (CLAUDE.md prohibition; the
    superseded ``_deletion_keys`` was deleted round 10)."""
    return F.expr(
        f"concat(array({col}), "
        f"transform(sequence(1, length({col})), i -> "
        f"concat(substring({col}, 1, i - 1), "
        f"substring({col}, i + 1, length({col})))))"
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str | None = None,
    max_dist: int = 1,
    max_block: int | None = None,
) -> DataFrame:
    """Cross-relation fuzzy equi-join on string values within one edit —
    the migration matching step when source and target keys DRIFTED (a
    re-keyed customer master, a trimmed/re-encoded code column): which
    left value corresponds to which right value when exact equality
    fails. Distinct value domains on both sides (fuzzy matching is over
    dictionaries, not rows — re-attach to rows by joining the output
    back), deletion-neighborhood blocking keys hashed to 64 bits, the
    cross join is an equi-join on the variant hash moving (long, long)
    id pairs only, and ``levenshtein`` verifies candidates — the same
    FastSS machinery as :func:`edit_distance_pairs`, WITHOUT its
    a<b self-pair ordering: cross-relation output keeps every (left,
    right) match including exact ones (dist 0), which is the mapping
    table a reconciliation wants.

    Returns ``(left_value, right_value, dist)``. ``max_block`` caps
    degenerate blocks exactly as in :func:`edit_distance_pairs`.
    """
    if max_dist != 1:
        raise ValueError("fuzzy_join supports max_dist=1 only")
    right_col = right_col or left_col
    from pyspark import StorageLevel

    from database_migration_spark.functions.hashing import md5_long

    def dict_of(df: DataFrame, col: str) -> DataFrame:
        return (
            df.select(F.col(col).alias("_s"))
            .where(F.col("_s").isNotNull())
            .distinct()
            .select("_s", md5_long(F.col("_s")).alias("_id"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    def keyed_of(names: DataFrame) -> DataFrame:
        # (id, key hash, FastSS deletion position) — the same positioned
        # blocking as edit_distance_pairs; pos 0 = the string itself
        k = names.select(
            "_id", F.posexplode(_positioned_keys("_s")).alias("_pos", "_v")
        ).select(
            "_id", md5_long(F.col("_v")).alias("_k"),
            F.col("_pos").cast("int").alias("_pos"),
        )
        if max_block is not None:
            from database_migration_spark.operators.dedup import _cap_buckets

            return _cap_buckets(k, ["_k"], max_block, distinct_col="_id")
        return k

    lnames, rnames = dict_of(left, left_col), dict_of(right, right_col)
    cands = (
        keyed_of(lnames).select(F.col("_id").alias("_ida"), "_k",
                                F.col("_pos").alias("_pa"))
        .join(
            keyed_of(rnames).select(F.col("_id").alias("_idb"), "_k",
                                    F.col("_pos").alias("_pb")),
            "_k",
        )
        .where(
            (F.col("_pa") == F.col("_pb"))
            | (F.col("_pa") == 0)
            | (F.col("_pb") == 0)
        )
        .select("_ida", "_idb")
        .distinct()
    )
    lside, rside = _dict_side(lnames), _dict_side(rnames)
    pairs = cands.join(
        lside(lnames.select(F.col("_id").alias("_ida"), F.col("_s").alias("_x"))),
        "_ida",
    ).join(
        rside(rnames.select(F.col("_id").alias("_idb"), F.col("_s").alias("_y"))),
        "_idb",
    )
    return pairs.where(F.levenshtein("_x", "_y") <= max_dist).select(
        F.col("_x").alias("left_value"),
        F.col("_y").alias("right_value"),
        F.levenshtein("_x", "_y").cast("long").alias("dist"),
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    max_dist: int = 1,
    max_block: int | None = None,
) -> DataFrame:
    """Distinct-string pairs with ``levenshtein <= max_dist`` (only
    ``max_dist=1`` is supported — the delete-2 neighborhood is O(|s|²)
    keys per string and a different algorithm; raise rather than silently
    fall back to something quadratic).

    Returns ``(name_a, name_b, dist)`` with ``name_a < name_b``.

    Scale shape: the dictionary is deduped first (groupBy — fuzzy matching
    is over the value domain, not rows), each string emits |s|+1 blocking
    keys (linear in total bytes), the self-join is an equi-join on the
    key, and ``F.levenshtein`` (JVM, codegen) verifies the candidate pairs
    only. The positioned blocking keys (round 9, :func:`_positioned_keys`)
    make the candidate set EXACT for lev<=1 modulo 60-bit hash collisions:
    the old distance-2 false-positive class (``ab``/``ba`` sharing ``a``
    and ``b`` at different positions) is filtered out by the
    ``pos_a = pos_b OR either = 0`` rule BEFORE the pair-distinct, so the
    verify is a collision guard, not a volume reducer. False negatives
    don't exist (the neighborhood family is exact for lev<=1). A pair can
    share several keys, so candidates are deduped on the pair before
    verification.

    ``max_block`` guards degenerate dictionaries (every serial id shares
    the variant with its sequence digit deleted): blocks larger than the
    cap are dropped before the self-join — same semantics and machinery as
    the LSH ``max_bucket`` guard. Default None = exact.

    Shuffle shape (round-5 verdict finding): strings never ride the
    candidate machinery. Each string gets a 60-bit md5 id; variants hash
    to 64-bit join keys at the map side, the self-join and the pair-dedup
    move ``(long, long)`` rows only, and the two strings re-attach by id
    just for the levenshtein verify — shuffle bytes drop by ~the mean
    string length on the join AND the distinct. Hash collisions cannot
    produce wrong output: a variant-key collision is just one more
    candidate for the verify to kill, and an id collision on re-attach
    fans out to extra (string, string) combos that the verify also kills;
    the only theoretical loss is a TRUE ≤1-edit pair whose two members
    collide in 60 bits (~|pairs|/2⁶⁰ — vanishing, and orders of magnitude
    below any real corpus's near-dup noise floor).
    """
    if max_dist != 1:
        raise ValueError("edit_distance_pairs supports max_dist=1 only")
    from pyspark import StorageLevel

    from database_migration_spark.functions.hashing import md5_long

    # the dictionary is consumed three times (variant keying + two id
    # re-attaches) — persist, or each consumer rescans + re-distincts
    names = (
        df.select(F.col(text_col).alias("_s"))
        .where(F.col("_s").isNotNull())
        .distinct()
        .select("_s", md5_long(F.col("_s")).alias("_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # explode map-side, hash each variant, DROP the variant string before
    # anything shuffles: the keyed relation is (long, long, int) per
    # variant — id, key hash, and the FastSS deletion position (0 = the
    # string itself). The position filter below admits TRUE pairs only
    # (see _positioned_keys): at ×100 it cut candidate volume 99.9 M →
    # 26.5 M (the 74 % false-positive class) before the pair-distinct and
    # the verify, the two stages that dominated edge generation.
    keyed = names.select(
        "_id", F.posexplode(_positioned_keys("_s")).alias("_pos", "_v")
    ).select(
        "_id", md5_long(F.col("_v")).alias("_k"),
        F.col("_pos").cast("int").alias("_pos"),
    )
    if max_block is not None:
        from database_migration_spark.operators.dedup import _cap_buckets

        keyed = _cap_buckets(keyed, ["_k"], max_block, distinct_col="_id")
    else:
        # both join sides read keyed; projections under different aliases
        # defeat ReusedExchange, so persist (the capped path persists
        # inside _cap_buckets already)
        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    a = keyed.select(F.col("_id").alias("_ida"), "_k",
                     F.col("_pos").alias("_pa"))
    b = keyed.select(F.col("_id").alias("_idb"), "_k",
                     F.col("_pos").alias("_pb"))
    cands = (
        a.join(b, "_k")
        .where(F.col("_ida") < F.col("_idb"))
        .where(
            (F.col("_pa") == F.col("_pb"))
            | (F.col("_pa") == 0)
            | (F.col("_pb") == 0)
        )
        .select("_ida", "_idb")
        .distinct()
    )
    side = _dict_side(names)
    pairs = cands.join(
        side(names.select(F.col("_id").alias("_ida"), F.col("_s").alias("_x"))),
        "_ida",
    ).join(
        side(names.select(F.col("_id").alias("_idb"), F.col("_s").alias("_y"))),
        "_idb",
    )
    return (
        pairs.where(F.levenshtein("_x", "_y") <= max_dist)
        .select(
            F.least("_x", "_y").alias("name_a"),
            F.greatest("_x", "_y").alias("name_b"),
            F.levenshtein("_x", "_y").cast("long").alias("dist"),
        )
    )


def _dict_side(names: DataFrame, cap: int = 4_000_000):
    """Broadcast the (id, string) dictionary at the verify re-attach when
    it fits (round-8 measured: the two candidate×dict shuffle joins were
    43 % of ER edge-gen at ×100 — 131.5 s → 74.7 s with the dict
    broadcast, identical 26.25 M pairs). The candidate relation is many
    times the dictionary (every string × its deletion-variant collisions),
    so shuffling it to meet a ≤100 MB dict is backwards; above ``cap``
    entries (~hundreds of MB) fall back to the shuffle join.

    An r13 estimate-based fast path (skip the count when Catalyst's
    sizeInBytes reads small) was measured NEUTRAL at bench scale and
    REVERTED on review: a byte estimate bounds neither the entry count
    nor the decoded broadcast size (dictionary/RLE-encoded near-serial
    name columns compress 10-50x, and Project stats assume 20-byte
    strings), so a <32 MB estimate could force-broadcast a multi-hundred-
    MB, >cap-entry relation the count-based path would have routed to the
    shuffle join. The exact count stays the sole authority."""
    if names.count() <= cap:
        return F.broadcast
    return lambda d: d
