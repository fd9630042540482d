"""Key synthesis round-trip + glob translator vs brute-force fnmatch.

The oracle here is Python's fnmatch over the materialized key strings —
glob_to_filter must select exactly the same rows Redis SCAN MATCH would."""

from __future__ import annotations

import fnmatch

import pytest

from meeseeker_spark import fixtures
from meeseeker_spark.flatten import flatten_engine_blocks, flatten_ops_with_virtual
from meeseeker_spark.keys import glob_to_filter, parse_key
from meeseeker_spark.schemas import BLOCKS, ENGINE_BLOCKS, VIRTUAL_OPS


@pytest.fixture(scope="module")
def ops(spark, tmp_path_factory):
    fx = fixtures.generate(n_blocks=63, seed=7)
    out = tmp_path_factory.mktemp("keysfx")
    fixtures.write_parquet(fx, str(out))
    blocks = spark.read.schema(BLOCKS).parquet(str(out / "blocks.parquet"))
    vops = spark.read.schema(VIRTUAL_OPS).parquet(str(out / "virtual_ops.parquet"))
    return flatten_ops_with_virtual(blocks, vops).cache()


@pytest.fixture(scope="module")
def engine_ops(spark, tmp_path_factory):
    fx = fixtures.generate(n_blocks=63, seed=7)
    out = tmp_path_factory.mktemp("keysfx_eng")
    fixtures.write_parquet(fx, str(out))
    eb = spark.read.schema(ENGINE_BLOCKS).parquet(str(out / "engine_blocks.parquet"))
    return flatten_engine_blocks(eb).cache()


def _fnmatch_keys(keys, pattern):
    return sorted(k for k in keys if fnmatch.fnmatchcase(k, pattern))


def _spark_keys(df, pattern):
    return sorted(r["key"] for r in df.where(glob_to_filter(pattern)).collect())


def test_key_roundtrip(ops):
    # meeseeker_test.rb:38 invariant: key.split(':') destructures back
    for r in ops.limit(50).collect():
        seg = parse_key(r["key"])
        assert seg["chain"] == r["chain"]
        assert int(seg["block_num"]) == r["block_num"]
        assert seg["trx_id"] == r["trx_id"]
        assert int(seg["trx_index"]) == r["trx_index"]
        assert seg["op_type"] == r["op_type"]


MAINNET_PATTERNS = [
    "hive:*:vote",
    "hive:*:custom_json",
    "hive:*",
    "*",
]


@pytest.mark.parametrize("pattern", MAINNET_PATTERNS)
def test_glob_mainnet(ops, pattern):
    keys = [r["key"] for r in ops.select("key").collect()]
    assert _spark_keys(ops, pattern) == _fnmatch_keys(keys, pattern)


def test_glob_block(ops):
    some_block = ops.select("block_num").first()["block_num"]
    pattern = f"hive:{some_block}:*"
    keys = [r["key"] for r in ops.select("key").collect()]
    assert _spark_keys(ops, pattern) == _fnmatch_keys(keys, pattern)


def test_glob_trx(ops):
    trx = ops.where("trx_id not like '0000%'").select("trx_id").first()["trx_id"]
    pattern = f"hive:*:{trx}:*"
    keys = [r["key"] for r in ops.select("key").collect()]
    got = _spark_keys(ops, pattern)
    assert got == _fnmatch_keys(keys, pattern)
    assert got, "trx pattern should match something"


def test_glob_full_positional(ops):
    r = ops.first()
    pattern = f"{r['chain']}:{r['block_num']}:{r['trx_id']}:{r['trx_index']}:{r['op_type']}"
    got = _spark_keys(ops, pattern)
    assert got == [r["key"]]


def test_glob_partial_wildcard_fallback(ops):
    # intra-segment wildcard → rlike fallback must stay glob-exact
    pattern = "hive:*:com*"   # comment, comment_options
    keys = [r["key"] for r in ops.select("key").collect()]
    assert _spark_keys(ops, pattern) == _fnmatch_keys(keys, pattern)


def test_glob_short_literal_matches_nothing(ops):
    """Redis MATCH is full-string: a wildcard-free pattern with fewer
    segments than the key ('hive:vote') has no '*' to absorb the missing
    ':' separators, so it must return NOTHING — not chain+op_type rows."""
    keys = [r["key"] for r in ops.select("key").collect()]
    for pattern in ["hive:vote", "hive", "hive:1:vote",
                    "hive:0000000000000000000000000000000000000000"]:
        assert _spark_keys(ops, pattern) == _fnmatch_keys(keys, pattern) == [], \
            pattern


def test_glob_residual_is_anchored(ops):
    """RLIKE has find() substring semantics: an unanchored residual for
    'vote' would match '...:effective_comment_vote' mid-string. The
    translator must anchor — matching fnmatch's full-string behavior."""
    keys = [r["key"] for r in ops.select("key").collect()]
    # pure-residual shapes (wildcarded chain segment → rlike fallback)
    for pattern in ["*vote", "*:vote", "?ive:*:vote", "*ote"]:
        assert _spark_keys(ops, pattern) == _fnmatch_keys(keys, pattern), \
            pattern


def test_glob_sidechain(engine_ops):
    keys = [r["key"] for r in engine_ops.select("key").collect()]
    for pattern in ["hive_engine:*:tokens:transfer", "hive_engine:*:market:*",
                    "hive_engine:*"]:
        assert _spark_keys(engine_ops, pattern) == _fnmatch_keys(keys, pattern), pattern


def test_glob_hypothesis_fuzz(ops):
    """Property: for ANY glob assembled from segment literals/wildcards/
    prefix-globs, glob_to_filter == fnmatch over the composite keys."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows = ops.select("chain", "block_num", "trx_id", "trx_index",
                      "op_type", "key").collect()
    keys = [r["key"] for r in rows]
    r0 = rows[0]

    def seg_strategy(values):
        lits = sorted({str(v) for v in values})[:8]
        return st.one_of(
            st.just("*"),
            st.sampled_from(lits),
            st.sampled_from([v[:2] + "*" for v in lits]),
        )

    pattern_st = st.tuples(
        seg_strategy([r0["chain"], "steem"]),
        seg_strategy([r["block_num"] for r in rows[:20]]),
        seg_strategy([r["trx_id"] for r in rows[:20]]),
        seg_strategy([r["trx_index"] for r in rows[:20]]),
        seg_strategy([r["op_type"] for r in rows[:20]]),
        st.integers(min_value=1, max_value=5),  # how many segments to keep
        st.booleans(),                          # trailing ':*' or bare short
    ).map(lambda t: ":".join(list(t[:5])[:t[5]])
          + ("" if t[5] == 5 or not t[6] else ":*"))

    @settings(max_examples=30, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(pattern=pattern_st)
    def check(pattern):
        assert _spark_keys(ops, pattern) == _fnmatch_keys(keys, pattern), \
            pattern

    check()


def test_glob_engine_and_mixed_fuzz(ops, engine_ops):
    """Cross-shape soundness: Redis '*' crosses ':', so 5-segment patterns
    can match 6-segment engine keys — the translator must stay glob-exact
    on engine-only AND mixed stores (wildcard-chain → rlike fallback)."""
    import random

    mixed = ops.select("key", "chain", "block_num", "trx_id", "trx_index",
                       "op_type", "contract", "action").unionByName(
        engine_ops.select("key", "chain", "block_num", "trx_id", "trx_index",
                          "op_type", "contract", "action")).cache()
    rng = random.Random(4242)
    for df in (engine_ops, mixed):
        keys = [r["key"] for r in df.select("key").collect()]
        nseg = max(len(k.split(":")) for k in keys)
        segvals = [sorted({k.split(":")[i] for k in keys
                           if len(k.split(":")) > i}) for i in range(nseg)]
        for _ in range(25):
            segs = []
            keep = rng.randint(1, nseg)
            for i in range(keep):
                roll = rng.random()
                v = rng.choice(segvals[i])
                if roll < 0.4:
                    segs.append("*")
                elif roll < 0.7:
                    segs.append(v)
                elif roll < 0.85:
                    segs.append(v[:max(1, len(v) // 2)] + "*")
                else:
                    segs.append("*" + v[len(v) // 2:])
            # half the short patterns keep their ':*' tail, half stay bare —
            # bare short patterns are the Redis MATCH arity trap (they must
            # match nothing unless a wildcard absorbs the missing colons)
            tail = ":*" if keep < nseg and rng.random() < 0.5 else ""
            pattern = ":".join(segs) + tail
            assert _spark_keys(df, pattern) == _fnmatch_keys(keys, pattern), \
                pattern


def test_glob_unified_surface_fuzz(spark, ops, tmp_path_factory):
    """The UnifiedStore surface (mainnet ops + 4-segment schedule keys
    with NULL trx columns): for any pattern drawn from mixed segment
    vocabularies, ``UnifiedStore.scan`` == fnmatch over ALL keys in the
    union.  r15: the surface routes each key shape through its own
    translator — the previous single-translator pass bound
    ``op_type == tail`` on anchored patterns and dropped the schedule
    rows fnmatch matches (never drawn by the old fuzz's seed; the
    vocabulary below now draws those shapes every run)."""
    import random

    from pyspark.sql import functions as F

    from meeseeker_spark.manifest import ManifestStore
    from meeseeker_spark.query import OpsStore, UnifiedStore

    d = tmp_path_factory.mktemp("unifuzz")
    rows = [(i, 4200 + 21 * i, [f"w{i}", f"w{i+1}"]) for i in range(6)]
    ManifestStore(spark, str(d / "sched")).append(
        spark.createDataFrame(
            rows, "id bigint, next_shuffle_block_num bigint, "
                  "current_shuffled_witnesses array<string>")
        .withColumn("batch_id", F.lit(0)), 0)
    OpsStore.write(ops, str(d / "ops"))
    u = UnifiedStore(spark, str(d / "ops"), str(d / "sched"))
    keys = [r["key"] for r in u.df().select("key").collect()]

    def scan_keys(pattern):
        return sorted(r["key"] for r in u.scan(pattern).collect())

    # the anchored schedule shapes the old translator dropped
    assert scan_keys("hive:witness:schedule:4200") == \
        ["hive:witness:schedule:4200"]
    assert (scan_keys("hive:*:schedule:4221")
            == _fnmatch_keys(keys, "hive:*:schedule:4221")
            == ["hive:witness:schedule:4221"])
    assert scan_keys("hive:witness:*") == _fnmatch_keys(
        keys, "hive:witness:*")

    vocab = {
        "chain": ["hive", "*", "h*", "steem"],
        "mid": ["witness", "schedule", "*", "w*", "vote",
                str(rows[0][1]), "42"],
        "tail": ["schedule", "vote", "*", "s*",
                 str(rows[1][1]), "custom_json"],
    }
    rng = random.Random(404)
    for _ in range(60):
        n_seg = rng.randint(1, 6)
        segs = [rng.choice(vocab["chain"])]
        for i in range(1, n_seg):
            segs.append(rng.choice(vocab["tail" if i == n_seg - 1
                                         else "mid"]))
        pattern = ":".join(segs)
        assert scan_keys(pattern) == _fnmatch_keys(keys, pattern), pattern


def test_glob_redis_class_negation_and_colon_classes(ops):
    """r15 review: Redis negates classes with [^..] (fnmatch only honors
    [!..] — the raw translation matched EXACTLY the rows Redis excludes),
    and a class body containing ':' mis-tokenized the segment split,
    ANDing a bogus op_type equality.  Both against the Redis-semantics
    oracle (fnmatch over the [!-normalized pattern)."""
    keys = [r["key"] for r in ops.select("key").collect()]

    def redis_match(pattern):
        return sorted(k for k in keys if fnmatch.fnmatchcase(
            k, pattern.replace("[^", "[!")))

    for pattern in ("hive:*:[^v]*", "hive:*:[^x]*", "hive:*:[!v]*",
                    "hive:*:*:*:[^v]*", "hive:*:[a:b]*", "hive:*:v[o:a]te"):
        got = _spark_keys(ops, pattern)
        assert got == redis_match(pattern), pattern
    # negation must actually exclude: a POSITIONAL [^v]* tail (5 aligned
    # segments — no '*' left to absorb colons) drops vote-family rows
    five = _spark_keys(ops, "hive:*:*:*:[^v]*")
    assert five and all(not k.split(":")[-1].startswith("v") for k in five)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="backslash"):
        glob_to_filter(r"hive:*:\*")


def test_glob_leading_bracket_literal_in_class(ops):
    """r15 second review: in fnmatch — the dialect this translator
    implements (glob_to_filter's GLOB DIALECT note; real Redis closes a
    class at the first ']', an intentionally-documented divergence) — a
    ']' DIRECTLY after '[' / '[!' / '[^' is a literal class member, not
    the terminator: '[]:o]' is one class matching ']' ':' or 'o'.  The
    segment splitter closed the class at the first ']', so the ':'
    inside leaked out as a separator, mis-counting the segments and
    binding positional predicates that contradict the rlike residual
    (lit(False) for keys the residual matches)."""
    keys = [r["key"] for r in ops.select("key").collect()]

    def redis_match(pattern):
        return sorted(k for k in keys if fnmatch.fnmatchcase(
            k, pattern.replace("[^", "[!")))

    # leading-']' classes whose body contains ':' — the mis-split shape
    for pattern in ("hive:*:*:*:v[]:o]te", "hive:*:v[]:o]te",
                    "hive:*:*:*:[]v]*", "hive:*:*:*:v[!]:x]te"):
        got = _spark_keys(ops, pattern)
        assert got == redis_match(pattern), pattern
    # the first shape is 5 aligned segments over real vote keys — it must
    # actually RETURN them (the old splitter returned zero rows here)
    assert _spark_keys(ops, "hive:*:*:*:v[]:o]te")
    # unterminated '[' is a literal char (fnmatch): the ':'s after it are
    # real separators; no real key contains '[', so both sides are empty
    for pattern in ("hive:*:*[:*:vote", "hive:*:*:*:vote["):
        assert _spark_keys(ops, pattern) == redis_match(pattern) == [], \
            pattern


def test_glob_hex_penult_with_literal_tail_matches_nothing(ops):
    """r15 review: 'hive:*:<40-hex>:vote' end-anchors the hex against
    trx_index (always digits) — it matches NOTHING, but the translator
    bound trx_id == hex with no residual and returned spurious rows."""
    some_trx = ops.select("trx_id").where(
        "trx_id rlike '[a-f]'").first()["trx_id"]
    pattern = f"hive:*:{some_trx}:vote"
    keys = [r["key"] for r in ops.select("key").collect()]
    assert _fnmatch_keys(keys, pattern) == []
    assert _spark_keys(ops, pattern) == []


def test_glob_data_derived_name_collisions(spark):
    """Regression (r12 review): sidechain contract/action names are
    DATA-DERIVED, so a contract literally named as digits or as a
    40-hex string collides with the digit/hex40 middle bindings — the
    ANDed positional predicate dropped rows the glob matches (and the
    residual, being ANDed, cannot restore them).  Mainnet twin: a
    trx_id of 40 DECIMAL digits is a valid hex id that the digit
    branch's (block|index) disjunction used to drop."""
    hexname = "deadbeef" * 5
    digits40 = "1" * 40

    def ekey(b, t, i, c, a):
        return f"hive_engine:{b}:{t}:{i}:{c}:{a}"

    erows = [
        (ekey(10, "ab" * 20, 0, hexname, "transfer"),
         "hive_engine", 10, "ab" * 20, 0, None, hexname, "transfer"),
        (ekey(11, "cd" * 20, 1, "123", "buy"),
         "hive_engine", 11, "cd" * 20, 1, None, "123", "buy"),
        (ekey(12, "ef" * 20, 2, "tokens", "issue"),
         "hive_engine", 12, "ef" * 20, 2, None, "tokens", "issue"),
    ]
    edf = spark.createDataFrame(
        erows, "key string, chain string, block_num bigint, trx_id string,"
               " trx_index int, op_type string, contract string,"
               " action string")
    ekeys = [r[0] for r in erows]
    for pattern in (f"hive_engine:*:{hexname}:*",
                    "hive_engine:*:123:*"):
        assert _spark_keys(edf, pattern) == _fnmatch_keys(ekeys, pattern) \
            and _fnmatch_keys(ekeys, pattern), pattern

    mrows = [
        (f"hive:5:{digits40}:0:vote",
         "hive", 5, digits40, 0, "vote", None, None),
        (f"hive:6:{'ab' * 20}:1:comment",
         "hive", 6, "ab" * 20, 1, "comment", None, None),
    ]
    mdf = spark.createDataFrame(
        mrows, "key string, chain string, block_num bigint, trx_id string,"
               " trx_index int, op_type string, contract string,"
               " action string")
    mkeys = [r[0] for r in mrows]
    pattern = f"hive:*:{digits40}:*"
    assert _spark_keys(mdf, pattern) == _fnmatch_keys(mkeys, pattern) \
        and _fnmatch_keys(mkeys, pattern), pattern


def test_glob_oversized_digit_segments(spark, ops):
    """Regression (r12 review): digit segments past int64 crashed the
    translator through py4j (NumberFormatException) instead of simply
    not matching any numeric column.  Every branch — positional, penult,
    middle — must survive and stay glob-exact (fnmatch oracle)."""
    big = "9" * 20                      # > 2^63-1, not 40 chars
    keys = [r["key"] for r in ops.select("key").collect()]
    for pattern in (f"hive:{big}:*", f"hive:*:{big}:*",
                    f"hive:*:{big}:vote",
                    f"hive:{big}:aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa:"
                    f"{big}:vote"):
        assert _spark_keys(ops, pattern) == _fnmatch_keys(keys, pattern), \
            pattern


def test_get_oversized_digit_segment_is_empty(spark, ops, tmp_path_factory):
    """OpsStore.get twin of the overflow guard: a key whose numeric
    segment exceeds int64 exists in no store → empty result, not a py4j
    crash."""
    from meeseeker_spark.query import OpsStore

    d = tmp_path_factory.mktemp("get_big")
    OpsStore.write(ops, str(d / "store"))
    store = OpsStore(spark, str(d / "store"))
    big = "9" * 20
    assert store.get(
        f"hive:{big}:aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"[:45]
        + f":0:vote").count() == 0
    assert store.get(f"hive:1:{'ab' * 20}:{big}:vote").count() == 0
