"""Scalar-function certification — the 73-function library of SURVEY.md
§2.8 (reference: ballista/core/proto/datafusion.proto:448-522) plus the
expression forms of §2.7 (CASE, CAST/TRY_CAST, BETWEEN, IN, LIKE/ILIKE,
IS NULL family, struct/array element access, SIMILAR TO translation).

Oracle-dialect notes (Spark expression vs DuckDB SQL):
- regexp_replace: Spark replaces ALL matches; DuckDB needs the 'g' flag.
- initcap/signum: absent in DuckDB → emulated in the oracle SQL.
- octet_length: DuckDB needs a BLOB cast (encode()).
- sha1/sha224/384/512: absent in DuckDB → certified rows-only in
  fn_hash_full (md5/sha256 are value-certified in fn_hash).
- dayofweek: Spark is 1=Sunday, DuckDB dow is 0=Sunday → the SPARK side
  subtracts 1 (dayofweek(ts) - 1) and the oracle uses dow unmodified.
- Transcendentals (sin/exp/...): JVM vs libm may differ in the last ulp →
  rounded to 9 digits on both sides.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified type hints here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import (
    FUNCTIONS,
    current_time,
    date_bin,
    digest,
    similar_to,
    trunc_number,
)
from ..plans import sort_python_output
from ..tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def fn_math(spark, sf_dir):
    """Math rows of §2.8: Abs Acos Asin Atan Atan2 Ceil Cos Exp Floor Ln
    Log10 Log2 Power Round Signum Sin Sqrt Tan Trunc."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    x = F.col("l_quantity")
    d = F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(x - 25).alias("abs_v"),
        F.round(F.acos(d * 10 - 0.5), 9).alias("acos_v"),
        F.round(F.asin(d * 10 - 0.5), 9).alias("asin_v"),
        F.round(F.atan(x), 9).alias("atan_v"),
        F.round(F.atan2(x, d + 1), 9).alias("atan2_v"),
        F.ceil(x / 7).alias("ceil_v"),
        F.floor(x / 7).alias("floor_v"),
        F.round(F.cos(x), 9).alias("cos_v"),
        F.round(F.sin(x), 9).alias("sin_v"),
        F.round(F.tan(d), 9).alias("tan_v"),
        F.round(F.exp(d), 9).alias("exp_v"),
        F.round(F.log(x + 1), 9).alias("ln_v"),
        F.round(F.log10(x + 1), 9).alias("log10_v"),
        F.round(F.log2(x + 1), 9).alias("log2_v"),
        F.round(FUNCTIONS["Log"](2.0, x + 1), 9).alias("logb_v"),
        F.round(F.pow(x, 2), 6).alias("pow_v"),
        F.round(x * 3.14159, 2).alias("round_v"),
        F.signum(x - 25).alias("sign_v"),
        F.round(F.sqrt(x), 9).alias("sqrt_v"),
        trunc_number(F.col("l_extendedprice") / 1000, 1).alias("trunc_v"),
    ).orderBy("l_orderkey", "l_linenumber")


FN_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       abs(l_quantity - 25) AS abs_v,
       round(acos(l_discount * 10 - 0.5), 9) AS acos_v,
       round(asin(l_discount * 10 - 0.5), 9) AS asin_v,
       round(atan(l_quantity), 9) AS atan_v,
       round(atan2(l_quantity, l_discount + 1), 9) AS atan2_v,
       CAST(ceil(l_quantity / 7) AS BIGINT) AS ceil_v,
       CAST(floor(l_quantity / 7) AS BIGINT) AS floor_v,
       round(cos(l_quantity), 9) AS cos_v,
       round(sin(l_quantity), 9) AS sin_v,
       round(tan(l_discount), 9) AS tan_v,
       round(exp(l_discount), 9) AS exp_v,
       round(ln(l_quantity + 1), 9) AS ln_v,
       round(log10(l_quantity + 1), 9) AS log10_v,
       round(log2(l_quantity + 1), 9) AS log2_v,
       round(log(2.0, l_quantity + 1), 9) AS logb_v,
       round(pow(l_quantity, 2), 6) AS pow_v,
       round(l_quantity * 3.14159, 2) AS round_v,
       CAST(CASE WHEN l_quantity - 25 > 0 THEN 1.0 WHEN l_quantity - 25 < 0 THEN -1.0 ELSE 0.0 END AS DOUBLE) AS sign_v,
       round(sqrt(l_quantity), 9) AS sqrt_v,
       CASE WHEN l_extendedprice >= 0 THEN floor(l_extendedprice / 1000 * 10) / 10
            ELSE ceil(l_extendedprice / 1000 * 10) / 10 END AS trunc_v
FROM lineitem WHERE l_orderkey < 300
ORDER BY l_orderkey, l_linenumber
"""


def fn_bitwise(spark, sf_dir):
    """Bitwise BinaryExpr ops (datafusion.proto:430-436 op strings:
    BitwiseAnd/Or/Xor/ShiftRight/ShiftLeft, plus unary NOT): &, |, ^,
    <<, >>, ~ over integer keys — all whole-stage-codegen'd JVM
    integer ops."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    a = F.col("l_orderkey")
    b = F.col("l_linenumber").cast("long")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        a.bitwiseAND(b).alias("and_v"),
        a.bitwiseOR(b).alias("or_v"),
        a.bitwiseXOR(b).alias("xor_v"),
        F.shiftleft(b, 3).cast("long").alias("shl_v"),
        F.shiftright(a, 2).cast("long").alias("shr_v"),
        F.bitwise_not(b).alias("not_v"),
        F.bit_count(a).alias("popcnt_v"),
        F.getbit(a, F.lit(0)).alias("bit0_v"),
    ).orderBy("l_orderkey", "l_linenumber")


FN_BITWISE_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_orderkey & l_linenumber AS and_v,
       l_orderkey | l_linenumber AS or_v,
       xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS xor_v,
       CAST(l_linenumber AS BIGINT) << 3 AS shl_v,
       l_orderkey >> 2 AS shr_v,
       ~CAST(l_linenumber AS BIGINT) AS not_v,
       CAST(bit_count(l_orderkey) AS INT) AS popcnt_v,
       CAST(get_bit(l_orderkey::BIT, 63) AS TINYINT) AS bit0_v
FROM lineitem WHERE l_orderkey < 300
ORDER BY l_orderkey, l_linenumber
"""


def fn_string(spark, sf_dir):
    """String rows of §2.8 (part 1): Ascii BitLength Btrim CharacterLength
    Chr Concat ConcatWithSeparator InitCap Left Lower Lpad Ltrim."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    padded = F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))
    return p.select(
        "p_partkey",
        F.ascii("p_name").alias("ascii_v"),
        F.bit_length("p_brand").alias("bitlen_v"),
        F.btrim(padded).alias("btrim_v"),
        F.char_length("p_name").alias("clen_v"),
        F.chr(F.col("p_size") % 26 + 65).alias("chr_v"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("concat_v"),
        F.concat_ws("-", "p_brand", "p_type", "p_name").alias("cws_v"),
        F.initcap(F.lower("p_type")).alias("initcap_v"),
        F.left(F.col("p_name"), F.lit(4)).alias("left_v"),
        F.lower("p_brand").alias("lower_v"),
        F.lpad("p_brand", 12, "*").alias("lpad_v"),
        F.ltrim(padded).alias("ltrim_v"),
    ).orderBy("p_partkey")


FN_STRING_ORACLE = """
SELECT p_partkey,
       ascii(p_name) AS ascii_v,
       bit_length(p_brand) AS bitlen_v,
       trim('  ' || p_brand || '  ') AS btrim_v,
       length(p_name) AS clen_v,
       chr(p_size % 26 + 65) AS chr_v,
       p_brand || '/' || p_type AS concat_v,
       concat_ws('-', p_brand, p_type, p_name) AS cws_v,
       upper(substr(lower(p_type), 1, 1)) || substr(lower(p_type), 2) AS initcap_v,
       substr(p_name, 1, 4) AS left_v,
       lower(p_brand) AS lower_v,
       lpad(p_brand, 12, '*') AS lpad_v,
       ltrim('  ' || p_brand || '  ') AS ltrim_v
FROM part WHERE p_partkey < 300
ORDER BY p_partkey
"""


def fn_formatting(spark, sf_dir):
    """printf-style formatting (Spark format_string ↔ DuckDB printf —
    both delegate to C-style %-formatting, so outputs must agree
    byte-for-byte): zero-padded ints, fixed-precision floats, hex,
    string fields and literal %% — the report/identifier-rendering
    surface of any SQL engine."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.format_string("P%07d", F.col("p_partkey")).alias("padded_id"),
        F.format_string("%.2f", F.col("p_size") / 7.0).alias("size7"),
        F.format_string("%08x", F.col("p_partkey")).alias("hex_id"),
        F.format_string(
            "%s/%s (%d%%)", F.col("p_brand"), F.col("p_type"), F.col("p_size")
        ).alias("label"),
    ).orderBy("p_partkey")


FN_FORMATTING_ORACLE = """
SELECT p_partkey,
       printf('P%07d', p_partkey) AS padded_id,
       printf('%.2f', p_size / 7.0) AS size7,
       printf('%08x', p_partkey) AS hex_id,
       printf('%s/%s (%d%%)', p_brand, p_type, p_size) AS label
FROM part WHERE p_partkey < 200
ORDER BY p_partkey
"""


def fn_string_distance(spark, sf_dir):
    """Edit-distance functions over realistic name pairs (adjacent part
    names): levenshtein distance, the normalized similarity
    1 − lev/max(len), and an exact-prefix-match flag — the string-match
    primitives under fuzzy joins and record linkage (dedup_fuzzy uses
    levenshtein internally; this certifies the scalar itself against an
    independent implementation). Both engines implement the same
    classical DP, so the values must agree exactly."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    a = p.select(F.col("p_partkey").alias("k"), F.col("p_name").alias("n1"))
    b = p.select((F.col("p_partkey") - 1).alias("k"), F.col("p_name").alias("n2"))
    pairs = a.join(b, "k")
    lev = F.levenshtein("n1", "n2")
    mx = F.greatest(F.length("n1"), F.length("n2"))
    return pairs.select(
        "k",
        "n1",
        "n2",
        lev.alias("lev"),
        # two empty strings are identical: similarity 1.0, not an ANSI
        # DIVIDE_BY_ZERO (the cosine() zero-vector convention)
        F.round(
            F.when(mx == 0, F.lit(1.0)).otherwise(1 - lev / mx), 6
        ).alias("similarity"),
        (F.substring("n1", 1, 5) == F.substring("n2", 1, 5)).cast("int").alias(
            "same_prefix5"
        ),
    ).orderBy("k")


FN_STRING_DISTANCE_ORACLE = """
WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 200),
pairs AS (
  SELECT a.p_partkey AS k, a.p_name AS n1, b.p_name AS n2
  FROM p a JOIN p b ON b.p_partkey = a.p_partkey + 1)
SELECT k, n1, n2,
       CAST(levenshtein(n1, n2) AS INT) AS lev,
       round(CASE WHEN greatest(length(n1), length(n2)) = 0 THEN 1.0
                  ELSE 1 - levenshtein(n1, n2) * 1.0
                           / greatest(length(n1), length(n2)) END,
             6) AS similarity,
       CAST(substr(n1, 1, 5) = substr(n2, 1, 5) AS INT) AS same_prefix5
FROM pairs ORDER BY k
"""


def fn_string2(spark, sf_dir):
    """String rows of §2.8 (part 2): OctetLength Repeat Replace Reverse
    Right Rpad Rtrim SplitPart StartsWith Strpos Substr ToHex Translate
    Trim Upper."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    padded = F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))
    return p.select(
        "p_partkey",
        F.octet_length("p_name").alias("olen_v"),
        F.repeat(F.col("p_brand"), 2).alias("repeat_v"),
        F.replace(F.col("p_type"), F.lit("O"), F.lit("0")).alias("replace_v"),
        F.reverse(F.col("p_brand")).alias("reverse_v"),
        F.right(F.col("p_name"), F.lit(3)).alias("right_v"),
        F.rpad("p_brand", 12, "*").alias("rpad_v"),
        F.rtrim(padded).alias("rtrim_v"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("spart_v"),
        F.startswith(F.col("p_type"), F.lit("PRO")).alias("starts_v"),
        F.instr(F.col("p_name"), "a").alias("strpos_v"),
        F.substr(F.col("p_name"), F.lit(2), F.lit(5)).alias("substr_v"),
        F.hex(F.col("p_partkey")).alias("hex_v"),
        F.translate(F.col("p_brand"), "Bad#", "bAD_").alias("transl_v"),
        F.trim(padded).alias("trim_v"),
        F.upper(F.col("p_type")).alias("upper_v"),
    ).orderBy("p_partkey")


FN_STRING2_ORACLE = """
SELECT p_partkey,
       octet_length(encode(p_name)) AS olen_v,
       repeat(p_brand, 2) AS repeat_v,
       replace(p_type, 'O', '0') AS replace_v,
       reverse(p_brand) AS reverse_v,
       CASE WHEN length(p_name) <= 3 THEN p_name ELSE substr(p_name, length(p_name) - 2) END AS right_v,
       rpad(p_brand, 12, '*') AS rpad_v,
       rtrim('  ' || p_brand || '  ') AS rtrim_v,
       split_part(p_brand, '#', 2) AS spart_v,
       starts_with(p_type, 'PRO') AS starts_v,
       strpos(p_name, 'a') AS strpos_v,
       substr(p_name, 2, 5) AS substr_v,
       upper(to_hex(p_partkey)) AS hex_v,
       translate(p_brand, 'Bad#', 'bAD_') AS transl_v,
       trim('  ' || p_brand || '  ') AS trim_v,
       upper(p_type) AS upper_v
FROM part WHERE p_partkey < 300
ORDER BY p_partkey
"""


def fn_regex(spark, sf_dir):
    """RegexpMatch / RegexpReplace (datafusion.proto:460,478) + LIKE/ILIKE
    expression forms (§2.7)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.col("p_name").rlike("^[a-m]").alias("re_match"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "_").alias("re_repl"),
        F.col("p_type").like("%AND%").alias("like_v"),
        F.col("p_type").ilike("%and%").alias("ilike_v"),
        similar_to(F.col("p_type"), "%(PROMO|LARGE)%").alias("simto_v"),
    ).orderBy("p_partkey")


FN_REGEX_ORACLE = """
SELECT p_partkey,
       regexp_matches(p_name, '^[a-m]') AS re_match,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS re_repl,
       p_type LIKE '%AND%' AS like_v,
       p_type ILIKE '%and%' AS ilike_v,
       -- DuckDB's SIMILAR TO is a bare full-string regex (no %→.* rewrite),
       -- unlike PostgreSQL/DataFusion; feed it the translated regex.
       p_type SIMILAR TO '.*(PROMO|LARGE).*' AS simto_v
FROM part WHERE p_partkey < 500
ORDER BY p_partkey
"""


def fn_hash(spark, sf_dir):
    """MD5 / SHA256 (datafusion.proto:484,495) — the two digests DuckDB
    also ships, value-certified; rest in fn_hash_full."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    return c.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("md5_v"),
        F.sha2(F.col("c_name"), 256).alias("sha256_v"),
    ).orderBy("c_custkey")


FN_HASH_ORACLE = """
SELECT c_custkey, md5(c_name) AS md5_v, sha256(c_name) AS sha256_v
FROM customer WHERE c_custkey < 200
ORDER BY c_custkey
"""


def fn_hash_full(spark, sf_dir):
    """Digest dispatch + SHA224/384/512 + SHA1 (datafusion.proto:455,
    494-497) — DuckDB lacks these algorithms, so rows-only; the md5/sha256
    paths of the same Digest shim are value-certified in fn_hash."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    return c.select(
        "c_custkey",
        F.sha1(F.col("c_name")).alias("sha1_v"),
        F.sha2(F.col("c_name"), 224).alias("sha224_v"),
        F.sha2(F.col("c_name"), 384).alias("sha384_v"),
        F.sha2(F.col("c_name"), 512).alias("sha512_v"),
        digest(F.col("c_name"), "sha256").alias("digest_v"),
    ).orderBy("c_custkey")


def fn_datetime(spark, sf_dir):
    """Date/time rows of §2.8: DatePart DateTrunc DateBin ToTimestamp*
    FromUnixtime + date+INTERVAL arithmetic (datafusion.proto:1073-1077).
    Timestamp outputs are formatted to strings — engine-neutral."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return e.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.floor(F.second("ts")).alias("s"),
        F.dayofyear("ts").alias("doy"),
        (F.dayofweek("ts") - 1).alias("dow"),
        F.date_format(F.date_trunc("hour", "ts"), fmt).alias("trunc_h"),
        F.date_format(F.date_trunc("month", "ts"), fmt).alias("trunc_mo"),
        F.date_format(date_bin(900, F.col("ts")), fmt).alias("bin_15m"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_format(F.timestamp_seconds(F.unix_timestamp("ts")), fmt).alias("ts_s"),
        F.date_format(F.timestamp_millis(F.unix_timestamp("ts") * 1000), fmt).alias("ts_ms"),
        F.date_format(F.timestamp_micros(F.unix_timestamp("ts") * 1000000), fmt).alias("ts_us"),
        F.from_unixtime(F.unix_timestamp("ts"), fmt).alias("from_unix"),
        F.date_format(F.col("ts") + F.expr("INTERVAL 3 DAY"), fmt).alias("plus3d"),
        F.date_format(F.col("ts") - F.expr("INTERVAL 90 MINUTE"), fmt).alias("minus90m"),
    ).orderBy("event_id")


FN_DATETIME_ORACLE = """
SELECT event_id,
       CAST(date_part('year', ts) AS INT) AS y,
       CAST(date_part('month', ts) AS INT) AS mo,
       CAST(date_part('day', ts) AS INT) AS d,
       CAST(date_part('hour', ts) AS INT) AS h,
       CAST(date_part('minute', ts) AS INT) AS mi,
       CAST(floor(date_part('second', ts)) AS BIGINT) AS s,
       CAST(date_part('doy', ts) AS INT) AS doy,
       CAST(date_part('dow', ts) AS INT) AS dow,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS trunc_h,
       strftime(date_trunc('month', ts), '%Y-%m-%d %H:%M:%S') AS trunc_mo,
       strftime(to_timestamp(floor(epoch(date_trunc('second', ts)) / 900) * 900) AT TIME ZONE 'UTC',
                '%Y-%m-%d %H:%M:%S') AS bin_15m,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       strftime(to_timestamp(floor(epoch(ts))) AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS ts_s,
       strftime(to_timestamp(floor(epoch(ts))) AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS ts_ms,
       strftime(to_timestamp(floor(epoch(ts))) AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS ts_us,
       strftime(to_timestamp(floor(epoch(ts))) AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS from_unix,
       strftime(ts + INTERVAL 3 DAY, '%Y-%m-%d %H:%M:%S') AS plus3d,
       strftime(ts - INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS minus90m
FROM events WHERE user_id < 40
ORDER BY event_id
"""


def fn_conditional(spark, sf_dir):
    """Coalesce / NullIf (datafusion.proto:510,487) + CASE (searched &
    simple), CAST/TRY_CAST, IS [NOT] NULL/TRUE/FALSE (§2.7)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    st = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.select(
        "o_orderkey",
        F.coalesce(st, F.lit("pending")).alias("coal_v"),
        st.isNull().alias("isnull_v"),
        st.isNotNull().alias("notnull_v"),
        F.when(F.col("o_totalprice") > 100000, "big")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("small")
        .alias("case_srch"),
        F.when(F.col("o_orderstatus") == "O", 1)
        .when(F.col("o_orderstatus") == "F", 2)
        .otherwise(0)
        .alias("case_simple"),
        F.col("o_orderkey").cast("string").alias("cast_str"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("cast_dec"),
        F.col("o_orderpriority").try_cast("int").alias("try_bad"),
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1)).try_cast("int").alias("try_ok"),
        (F.col("o_totalprice") > 100000).alias("bool_v"),
        (F.col("o_totalprice") > 100000).isNotNull().alias("bool_known"),
    ).orderBy("o_orderkey")


FN_CONDITIONAL_ORACLE = """
SELECT o_orderkey,
       coalesce(nullif(o_orderstatus, 'P'), 'pending') AS coal_v,
       nullif(o_orderstatus, 'P') IS NULL AS isnull_v,
       nullif(o_orderstatus, 'P') IS NOT NULL AS notnull_v,
       CASE WHEN o_totalprice > 100000 THEN 'big'
            WHEN o_totalprice > 10000 THEN 'mid' ELSE 'small' END AS case_srch,
       CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 ELSE 0 END AS case_simple,
       CAST(o_orderkey AS VARCHAR) AS cast_str,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS cast_dec,
       TRY_CAST(o_orderpriority AS INT) AS try_bad,
       TRY_CAST(split_part(o_orderpriority, '-', 1) AS INT) AS try_ok,
       o_totalprice > 100000 AS bool_v,
       (o_totalprice > 100000) IS NOT NULL AS bool_known
FROM orders WHERE o_orderkey < 400
ORDER BY o_orderkey
"""


def fn_array_struct(spark, sf_dir):
    """Array / StructFun constructors (datafusion.proto:470,512) +
    GetIndexedField element access (datafusion.proto:384-387)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    arr = F.array(F.col("l_quantity"), F.col("l_discount"), F.col("l_tax"))
    st = F.struct(F.col("l_returnflag").alias("rf"), F.col("l_quantity").alias("q"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(arr, 1).alias("arr_first"),
        F.element_at(arr, 3).alias("arr_last"),
        F.size(arr).alias("arr_len"),
        st.getField("rf").alias("struct_rf"),
        st.getField("q").alias("struct_q"),
        F.element_at(F.split(F.col("l_returnflag"), ""), 1).alias("split_first"),
    ).orderBy("l_orderkey", "l_linenumber")


FN_ARRAY_STRUCT_ORACLE = """
SELECT l_orderkey, l_linenumber,
       [l_quantity, l_discount, l_tax][1] AS arr_first,
       [l_quantity, l_discount, l_tax][3] AS arr_last,
       CAST(len([l_quantity, l_discount, l_tax]) AS INT) AS arr_len,
       struct_pack(rf := l_returnflag, q := l_quantity).rf AS struct_rf,
       struct_pack(rf := l_returnflag, q := l_quantity).q AS struct_q,
       substr(l_returnflag, 1, 1) AS split_first
FROM lineitem WHERE l_orderkey < 200
ORDER BY l_orderkey, l_linenumber
"""


def fn_misc(spark, sf_dir):
    """Random / Uuid / Now / CurrentDate / CurrentTime / ArrowTypeof
    (datafusion.proto:486,521,507,518,519,517) — nondeterministic or
    engine-typed by definition → rows-only check; shape assertions live in
    tests/test_functions.py."""
    return spark.range(5).select(
        F.col("id"),
        F.rand(42).alias("rand_v"),
        F.uuid().alias("uuid_v"),
        F.now().alias("now_v"),
        F.current_date().alias("today_v"),
        current_time().alias("time_v"),
        F.typeof(F.col("id")).alias("typeof_v"),
    )


def fn_higher_order(spark, sf_dir):
    """Higher-order array functions — the lambda-expression surface the
    engine's array pipeline is built on (transform/filter/exists/forall/
    aggregate/zip_with + array_sort/distinct/contains/position/slice/
    reverse/min/max). DataFusion has no lambda expressions (SURVEY.md
    §2.8 scopes the 73 named scalars); this certifies the strict-superset
    Spark surface that operators/dedup.py and similarity.py rely on. All
    JVM-side codegen — no Python in the loop.

    Array-valued intermediates are EMITTED as comma-joined fixed-scale
    DECIMAL(18,6) strings (array_join / array_to_string on the oracle
    side): the certification harness canonicalizes rows via pandas,
    which cannot sort/hash array cells, and fixed-scale decimal
    rendering is byte-identical across engines (double→string is not)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    arr = F.array(F.col("l_quantity"), F.col("l_discount"), F.col("l_tax"))

    def _joined(c):
        return F.array_join(
            F.transform(c, lambda x: x.cast("decimal(18,6)").cast("string")), ","
        )

    return li.select(
        "l_orderkey",
        "l_linenumber",
        _joined(F.transform(arr, lambda x: F.round(x * 2.0, 6))).alias("ho_transform"),
        _joined(F.filter(arr, lambda x: x > F.lit(0.05))).alias("ho_filter"),
        F.exists(arr, lambda x: x > F.lit(30.0)).alias("ho_exists"),
        F.forall(arr, lambda x: x >= F.lit(0.0)).alias("ho_forall"),
        F.round(
            F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("ho_aggregate"),
        F.round(
            F.aggregate(
                F.zip_with(arr, F.reverse(arr), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("ho_zipdot"),
        _joined(F.array_sort(arr)).alias("arr_sorted"),
        F.size(F.array_distinct(arr)).alias("arr_ndistinct"),
        F.array_contains(arr, F.col("l_tax")).alias("arr_has_tax"),
        F.array_position(F.array_sort(arr), F.col("l_quantity")).alias("arr_pos_qty"),
        _joined(F.slice(F.array_sort(arr), 1, 2)).alias("arr_low2"),
        F.round(F.array_max(arr) - F.array_min(arr), 6).alias("arr_span"),
    ).orderBy("l_orderkey", "l_linenumber")


FN_HIGHER_ORDER_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_quantity, l_tax,
         [l_quantity, l_discount, l_tax] AS arr
  FROM lineitem WHERE l_orderkey < 300
)
SELECT l_orderkey, l_linenumber,
       array_to_string(list_transform(list_transform(arr, x -> round(x * 2.0, 6)),
                                      x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)),
                       ',') AS ho_transform,
       -- COALESCE pins the empty-list rendering: DuckDB array_to_string
       -- returns NULL for an empty list where Spark array_join returns ''
       COALESCE(array_to_string(list_transform(list_filter(arr, x -> x > 0.05),
                                      x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)),
                       ','), '') AS ho_filter,
       list_bool_or(list_transform(arr, x -> x > 30.0)) AS ho_exists,
       list_bool_and(list_transform(arr, x -> x >= 0.0)) AS ho_forall,
       round(list_sum(arr), 6) AS ho_aggregate,
       round(list_sum(list_transform(generate_series(1, len(arr)),
                                     i -> arr[i] * arr[len(arr) + 1 - i])), 6) AS ho_zipdot,
       array_to_string(list_transform(list_sort(arr),
                                      x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)),
                       ',') AS arr_sorted,
       CAST(len(list_distinct(arr)) AS INT) AS arr_ndistinct,
       list_contains(arr, l_tax) AS arr_has_tax,
       CAST(list_position(list_sort(arr), l_quantity) AS BIGINT) AS arr_pos_qty,
       array_to_string(list_transform(list_sort(arr)[1:2],
                                      x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)),
                       ',') AS arr_low2,
       round(list_max(arr) - list_min(arr), 6) AS arr_span
FROM base
ORDER BY l_orderkey, l_linenumber
"""


def fn_map(spark, sf_dir):
    """Map-type surface: construction (create_map / map_from_arrays),
    introspection (map_keys / map_values / map_entries / size), lookup
    (element_at / map_contains_key), and map_concat. DataFusion's type
    system has no MAP (SURVEY.md §2.7 covers struct/array access only) —
    free extension; key order canonicalized by sorting on both sides.
    Array-valued key/entry lists are EMITTED comma-joined (array_join /
    array_to_string): the certification harness canonicalizes rows via
    pandas, which cannot sort/hash array cells — the map semantics under
    test are unchanged."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    m2 = F.map_concat(
        m, F.create_map(F.lit("ck"), F.col("o_custkey").cast("string"))
    )
    return o.select(
        "o_orderkey",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("mk"),
        F.element_at(m, F.lit("status")).alias("m_status"),
        F.element_at(m, F.lit("missing")).alias("m_missing"),
        F.map_contains_key(m, F.lit("prio")).alias("m_has_prio"),
        F.size(m).alias("m_size"),
        F.array_join(F.array_sort(F.map_keys(m2)), ",").alias("mk3"),
        F.element_at(m2, F.lit("ck")).alias("m_ck"),
        F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(m),
                    lambda e: F.concat_ws("=", e.getField("key"), e.getField("value")),
                )
            ),
            ",",
        ).alias("m_kv"),
        F.element_at(
            F.map_from_arrays(F.array(F.lit("k")), F.array(F.col("o_custkey"))),
            F.lit("k"),
        ).alias("mfa_v"),
    ).orderBy("o_orderkey")


FN_MAP_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         MAP {'status': o_orderstatus, 'prio': o_orderpriority} AS m,
         MAP {'status': o_orderstatus, 'prio': o_orderpriority,
              'ck': CAST(o_custkey AS VARCHAR)} AS m2
  FROM orders WHERE o_orderkey < 400
)
SELECT o_orderkey,
       array_to_string(list_sort(map_keys(m)), ',') AS mk,
       (m['status'])[1] AS m_status,
       (m['missing'])[1] AS m_missing,
       list_contains(map_keys(m), 'prio') AS m_has_prio,
       CAST(cardinality(m) AS INT) AS m_size,
       array_to_string(list_sort(map_keys(m2)), ',') AS mk3,
       (m2['ck'])[1] AS m_ck,
       array_to_string(list_sort(list_transform(map_entries(m),
                                e -> e.key || '=' || e.value)), ',') AS m_kv,
       o_custkey AS mfa_v
FROM base
ORDER BY o_orderkey
"""


def udf_pandas_scalar(spark, sf_dir):
    """Scalar UDF surface (§2.9: the reference declares ScalarUdfExprNode,
    datafusion.proto:558-561, but registers none — Spark's pandas_udf is
    the strict superset). Arrow-batched, certified against the SQL
    equivalent. NOTE: UDFs are the slow path — this exists to certify the
    mechanism; the 73 built-ins above are the hot path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def log1p_scaled(s: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.round(np.log1p(s) * 2.0, 9))

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    # (l_orderkey, l_linenumber) is not unique in the synthetic lineitem:
    # v completes the order, so ties do not follow the partition layout
    return sort_python_output(
        li.select("l_orderkey", "l_linenumber", log1p_scaled(F.col("l_quantity")).alias("v")),
        "l_orderkey", "l_linenumber", "v",
    )


UDF_PANDAS_ORACLE = """
SELECT l_orderkey, l_linenumber, round(ln(1 + l_quantity) * 2.0, 9) AS v
FROM lineitem WHERE l_orderkey < 500
ORDER BY l_orderkey, l_linenumber, v
"""


def udaf_apply_in_pandas(spark, sf_dir):
    """Aggregate UDF surface (§2.9: AggregateUdfExprNode,
    datafusion.proto:563-567) via grouped applyInPandas — per-group
    pandas aggregation (weighted mean), certified against SQL."""


    def weighted_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        w = pdf["l_quantity"].sum()
        v = (pdf["l_extendedprice"] * pdf["l_quantity"]).sum() / w if w else 0.0
        return pd.DataFrame(
            {"l_returnflag": [pdf["l_returnflag"].iloc[0]], "wmean": [round(v, 6)]}
        )

    li = _t(spark, sf_dir, "lineitem")
    return sort_python_output(
        li.groupBy("l_returnflag").applyInPandas(
            weighted_mean, schema="l_returnflag string, wmean double"
        ),
        "l_returnflag",
    )


UDAF_ORACLE = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wmean
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def fn_decimal(spark, sf_dir):
    """DECIMAL(18,2) exact money arithmetic — certifies the Decimal128
    type mapping (SURVEY.md §1.2: DataFusion Decimal128(p,s) ≡ Spark
    DecimalType(p,s), both 128-bit). Sums are EXACT — order-independent,
    no rounding shim needed on either side — which is the whole point of
    decimal for money at scale: 10⁹-row sums with no FP drift.

    The aggregation runs entirely in Decimal128 (that IS the type-mapping
    certification); only the FINAL columns are rendered CAST AS STRING,
    because the certification harness hashes a pandas rendering where
    Spark's Decimal objects ('20828.00') and DuckDB's float64 coercion
    ('20828.0') would differ despite exactly equal values. Fixed-scale
    decimal→string is byte-identical across both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(price).alias("_sum_price"),
            F.sum((price * (1 - disc)).cast("decimal(18,4)")).alias("_sum_disc_price"),
            F.max(price).alias("_max_price"),
            F.min(price).alias("_min_price"),
        )
        .select(
            "l_returnflag",
            F.col("_sum_price").cast("string").alias("sum_price"),
            F.col("_sum_disc_price").cast("string").alias("sum_disc_price"),
            F.col("_max_price").cast("string").alias("max_price"),
            F.col("_min_price").cast("string").alias("min_price"),
        )
        .orderBy("l_returnflag")
    )


FN_DECIMAL_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)))
            AS VARCHAR) AS sum_disc_price,
       CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS max_price,
       CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS min_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def fn_json(spark, sf_dir):
    """JSON function family: from_json (typed parse to struct),
    get_json_object (path extract), and to_json (struct serialization) —
    all JVM-side; Jackson parse once per row, no Python. events.props is
    the JSON column."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k long")
    return (
        e.select(
            "event_id",
            parsed.getField("k").alias("k_struct"),
            F.get_json_object("props", "$.k").cast("long").alias("k_path"),
            F.length(F.to_json(F.struct(F.col("event_type").alias("t")))).alias("j_len"),
        )
        .orderBy("event_id")
    )


FN_JSON_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
       CAST(length('{"t":"' || event_type || '"}') AS INT) AS j_len
FROM events ORDER BY event_id
"""


def fn_url(spark, sf_dir):
    """URL function family: parse_url host/path/query-param extraction +
    url_encode/url_decode round-trip — the normalization primitives of a
    web-corpus pipeline (canonical host for domain quotas, stripped
    params for dedup keys). URLs synthesized deterministically from the
    documents table; the oracle replicates with string ops (DuckDB has no
    parse_url)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&ref=ab"),
    )
    return (
        docs.select(
            "doc_id",
            F.parse_url(url, F.lit("HOST")).alias("host"),
            F.parse_url(url, F.lit("PATH")).alias("path"),
            F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("q_lang"),
            F.url_decode(F.url_encode(F.col("source"))).alias("src_roundtrip"),
        )
        .orderBy("doc_id")
    )


FN_URL_ORACLE = """
SELECT doc_id,
       source || '.example.com' AS host,
       '/docs/' || doc_id AS path,
       lang AS q_lang,
       source AS src_roundtrip
FROM documents ORDER BY doc_id
"""


def udtf_ngrams(spark, sf_dir):
    """Python UDTF surface (§2.9 free extension beyond the reference's
    scalar/aggregate UDF nodes; Spark 4 table-valued Python functions):
    a LATERAL-joined generator emitting (ngram, pos) bigrams per
    document. Arrow-batched like pandas_udf; certified against DuckDB's
    lateral range() expansion of the same tokenization. Exists to
    certify the mechanism — production n-gramming stays in the codegen'd
    shingle operators (operators/dedup.py)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="ngram: string, pos: int")
    class Bigrams:
        def eval(self, text: str, n: int):
            toks = (text or "").lower().split()
            for i in range(max(len(toks) - n + 1, 0)):
                yield (" ".join(toks[i : i + n]), i)

    spark.udtf.register("bigrams_udtf", Bigrams)
    _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 29 == 0).createOrReplaceTempView(
        "_udtf_docs"
    )
    return sort_python_output(
        spark.sql(
            "SELECT d.doc_id, g.ngram, g.pos FROM _udtf_docs d, LATERAL bigrams_udtf(d.text, 2) g"
        ),
        "doc_id", "pos",
    )


UDTF_NGRAMS_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE doc_id % 29 = 0),
idx AS (
  SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM base)
SELECT doc_id, t[i] || ' ' || t[i + 1] AS ngram, CAST(i - 1 AS INT) AS pos
FROM idx
ORDER BY doc_id, pos
"""


def fn_variant(spark, sf_dir):
    """VARIANT type (§2.8 free extension; Spark 4 semi-structured
    column type): parse_json → typed variant_get pulls, including a
    missing-path try_variant_get (null, never error). Unlike
    get_json_object (string re-parse per access), a VARIANT parses once
    into a binary-encoded tree — the 100 TB answer for multi-access JSON
    columns. Aggregated per event_type; DuckDB oracle via json_extract
    on the same props column."""
    e = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "long")
    missing = F.try_variant_get(v, "$.nope", "long")
    return (
        e.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.countDistinct("k").alias("dk"),
            F.count("m").alias("n_missing_nonnull"),
        )
        .orderBy("event_type")
    )


FN_VARIANT_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k,
       CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS dk,
       CAST(count(CAST(json_extract(props, '$.nope') AS BIGINT)) AS BIGINT) AS n_missing_nonnull
FROM events GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "fn_decimal": fn_decimal,
    "fn_url": fn_url,
    "fn_json": fn_json,
    "fn_math": fn_math,
    "fn_bitwise": fn_bitwise,
    "udf_pandas_scalar": udf_pandas_scalar,
    "udtf_ngrams": udtf_ngrams,
    "fn_variant": fn_variant,
    "udaf_apply_in_pandas": udaf_apply_in_pandas,
    "fn_string": fn_string,
    "fn_string2": fn_string2,
    "fn_string_distance": fn_string_distance,
    "fn_formatting": fn_formatting,
    "fn_regex": fn_regex,
    "fn_hash": fn_hash,
    "fn_hash_full": fn_hash_full,
    "fn_datetime": fn_datetime,
    "fn_conditional": fn_conditional,
    "fn_array_struct": fn_array_struct,
    "fn_higher_order": fn_higher_order,
    "fn_map": fn_map,
    "fn_misc": fn_misc,
}

ORACLES = {
    "fn_decimal": FN_DECIMAL_ORACLE,
    "fn_url": FN_URL_ORACLE,
    "fn_json": FN_JSON_ORACLE,
    "fn_math": FN_MATH_ORACLE,
    "fn_bitwise": FN_BITWISE_ORACLE,
    "udf_pandas_scalar": UDF_PANDAS_ORACLE,
    "udtf_ngrams": UDTF_NGRAMS_ORACLE,
    "fn_variant": FN_VARIANT_ORACLE,
    "udaf_apply_in_pandas": UDAF_ORACLE,
    "fn_string": FN_STRING_ORACLE,
    "fn_string2": FN_STRING2_ORACLE,
    "fn_string_distance": FN_STRING_DISTANCE_ORACLE,
    "fn_formatting": FN_FORMATTING_ORACLE,
    "fn_regex": FN_REGEX_ORACLE,
    "fn_hash": FN_HASH_ORACLE,
    "fn_datetime": FN_DATETIME_ORACLE,
    "fn_conditional": FN_CONDITIONAL_ORACLE,
    "fn_array_struct": FN_ARRAY_STRUCT_ORACLE,
    "fn_higher_order": FN_HIGHER_ORDER_ORACLE,
    "fn_map": FN_MAP_ORACLE,
}
