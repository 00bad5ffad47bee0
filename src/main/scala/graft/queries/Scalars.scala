package graft.queries

import graft.engine.{Det, QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Scalar function families (SURVEY §2.8) — one graded query per family,
  * each exercising several functions. All built-in, codegen'd; no UDFs in
  * the hot path. Cross-engine notes per P5–P9 inline.
  */
object Scalars extends QueryPack {

  q("fn_string_basic",
    """SELECT c_custkey,
      |  upper(c_name) AS up, lower(c_mktsegment) AS lo,
      |  trim(c_name) AS tr, lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS pad,
      |  substring(c_name, 1, 5) AS sub, CAST(length(c_name) AS INT) AS len,
      |  concat_ws('|', c_name, c_mktsegment) AS cw,
      |  replace(c_name, '#', '-') AS rep, reverse(c_mktsegment) AS rev
      |FROM customer
      |ORDER BY c_custkey""") { (s, dir) =>
    Tables(s, dir, "customer")
      .select(col("c_custkey"),
        upper(col("c_name")).as("up"), lower(col("c_mktsegment")).as("lo"),
        trim(col("c_name")).as("tr"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("pad"),
        substring(col("c_name"), 1, 5).as("sub"), length(col("c_name")).as("len"),
        concat_ws("|", col("c_name"), col("c_mktsegment")).as("cw"),
        regexp_replace(col("c_name"), "#", "-").as("rep"),
        reverse(col("c_mktsegment")).as("rev"))
      .orderBy("c_custkey")
  }

  q("fn_string_split_extract",
    """SELECT p_partkey,
      |  string_split(p_type, ' ')[1] AS first_tok,
      |  regexp_extract(o_orderpriority, '^(\d+)', 1) AS prio_num,
      |  regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
      |  CAST(strpos(p_type, 'PROMO') AS INT) AS promo_pos,
      |  left(p_name, 4) AS l4, right(p_name, 4) AS r4
      |FROM part p JOIN orders o ON p.p_partkey = o.o_orderkey
      |ORDER BY p_partkey""") { (s, dir) =>
    Tables(s, dir, "part").as("p")
      .join(Tables(s, dir, "orders").as("o"), col("p_partkey") === col("o_orderkey"))
      .select(col("p_partkey"),
        element_at(split(col("p_type"), " "), 1).as("first_tok"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)", 1).as("prio_num"),
        regexp_replace(col("p_type"), " ", "_").as("type_snake"),
        instr(col("p_type"), "PROMO").as("promo_pos"),
        expr("left(p_name, 4)").as("l4"), expr("right(p_name, 4)").as("r4"))
      .orderBy("p_partkey")
  }

  // P6: DuckDB dow is 0=Sunday, Spark dayofweek is 1=Sunday → oracle adds 1
  q("fn_date_parts",
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
      |  CAST(day(o_orderdate) AS INT) AS d,
      |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
      |  CAST(quarter(o_orderdate) AS INT) AS q,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
      |FROM orders
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("q"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"))
      .orderBy("o_orderkey")
  }

  q("fn_date_arith",
    """SELECT o_orderkey,
      |  strftime(CAST(o_orderdate + INTERVAL 30 DAY AS DATE), '%Y-%m-%d') AS plus30,
      |  strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus3m,
      |  CAST(date_diff('day', o_orderdate, TIMESTAMP '2001-12-31') AS INT) AS days_to_end,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
        datediff(lit("2001-12-31").cast("timestamp"), col("o_orderdate")).as("days_to_end"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy("o_orderkey")
  }

  q("fn_math",
    """SELECT p_partkey, p_size,
      |  round(sqrt(p_size), 6) AS sqrt_sz,
      |  CAST(floor(sqrt(p_size)) AS BIGINT) AS floor_sqrt,
      |  CAST(ceil(sqrt(p_size)) AS BIGINT) AS ceil_sqrt,
      |  abs(p_size - 25) AS abs_ctr,
      |  pow(p_size, 2) AS sz2,
      |  round(ln(p_size), 6) AS ln_sz, round(log10(p_size), 6) AS log10_sz,
      |  round(exp(p_size % 5), 6) AS exp_mod,
      |  CAST(sign(p_size - 25) AS INT) AS sgn,
      |  p_size % 7 AS mod7,
      |  greatest(p_size, 25) AS gst, least(p_size, 25) AS lst
      |FROM part
      |ORDER BY p_partkey""") { (s, dir) =>
    Tables(s, dir, "part")
      .select(col("p_partkey"), col("p_size"),
        round(sqrt(col("p_size")), 6).as("sqrt_sz"),
        floor(sqrt(col("p_size"))).as("floor_sqrt"),
        ceil(sqrt(col("p_size"))).as("ceil_sqrt"),
        abs(col("p_size") - 25).as("abs_ctr"),
        pow(col("p_size"), 2).as("sz2"),
        round(log(col("p_size")), 6).as("ln_sz"),
        round(log10(col("p_size")), 6).as("log10_sz"),
        round(exp(col("p_size") % 5), 6).as("exp_mod"),
        signum(col("p_size") - 25).cast("int").as("sgn"),
        (col("p_size") % 7).as("mod7"),
        greatest(col("p_size"), lit(25)).as("gst"),
        least(col("p_size"), lit(25)).as("lst"))
      .orderBy("p_partkey")
  }

  q("fn_array",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  list_contains(string_split(text, ' '), 'join') AS has_join,
      |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first3,
      |  CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS sum_tok_len
      |FROM documents
      |ORDER BY doc_id""") { (s, dir) =>
    val toks = split(col("text"), " ")
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        array_contains(toks, "join").as("has_join"),
        array_join(slice(sort_array(array_distinct(toks)), 1, 3), ",").as("first3"),
        aggregate(transform(toks, t => length(t)), lit(0L), (acc, x) => acc + x).as("sum_tok_len"))
      .orderBy("doc_id")
  }

  q("fn_map_struct",
    """SELECT n_nationkey,
      |  struct_pack(key := n_name, region := n_regionkey).key AS s_name,
      |  map_extract(MAP(['a','b'], [1, 2]), 'b')[1] AS map_b
      |FROM nation
      |ORDER BY n_nationkey""") { (s, dir) =>
    Tables(s, dir, "nation")
      .select(col("n_nationkey"),
        struct(col("n_name").as("key"), col("n_regionkey").as("region"))
          .getField("key").as("s_name"),
        element_at(map(lit("a"), lit(1), lit("b"), lit(2)), "b").as("map_b"))
      .orderBy("n_nationkey")
  }

  q("fn_json",
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS INT) AS k,
      |  CAST(json_extract_string(props, '$.k') AS VARCHAR) AS k_str
      |FROM events
      |ORDER BY event_id""") { (s, dir) =>
    Tables(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        get_json_object(col("props"), "$.k").as("k_str"))
      .orderBy("event_id")
  }

  q("fn_hash",
    """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256
      |FROM documents
      |ORDER BY doc_id""") { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        md5(col("text")).as("h_md5"), sha2(col("text"), 256).as("h_sha256"))
      .orderBy("doc_id")
  }

  // URL parsing via regexp extraction (identical RE2-safe patterns both
  // engines; Spark's parse_url has no DuckDB twin) over URLs constructed
  // deterministically from order keys
  q("fn_url",
    """WITH u AS (
      |  SELECT o_orderkey,
      |    'https://shop' || o_orderkey % 5 || '.example.com/p/' || o_orderkey
      |      || '?cust=' || o_custkey AS url
      |  FROM orders
      |)
      |SELECT o_orderkey,
      |  regexp_extract(url, '^https?://([^/]+)', 1) AS host,
      |  regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
      |  regexp_extract(url, 'cust=([0-9]+)', 1) AS cust_param
      |FROM u
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        concat(lit("https://shop"), col("o_orderkey") % 5, lit(".example.com/p/"),
          col("o_orderkey"), lit("?cust="), col("o_custkey")).as("url"))
      .select(col("o_orderkey"),
        regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
        regexp_extract(col("url"), "^https?://[^/]+(/[^?]*)", 1).as("path"),
        regexp_extract(col("url"), "cust=([0-9]+)", 1).as("cust_param"))
      .orderBy("o_orderkey")
  }

  // xxhash64/crc32 — DuckDB-oracled cell-exact since r10: both are pure
  // integer recurrences over the UTF-8 bytes (XXH64 seed-42 lanes/merge/
  // avalanche, the JDK's reflected IEEE-802.3 CRC), replayed by
  // MurmurOracle.fnHashSql as HUGEINT limb arithmetic. The r9 "no
  // cross-engine twin" claim was about built-ins, not computability.
  q("fn_hash_native", MurmurOracle.fnHashSql) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), xxhash64(col("text")).as("h_xx64"), crc32(col("text")).as("h_crc32"))
      .orderBy("doc_id")
  }

  // phonetic encoding for fuzzy name matching — DuckDB has no soundex, so
  // rows-only + golden (the fuzzy-dedup family's third blocking key after
  // shingles and length bands)
  // American Soundex (Spark's built-in), promoted to the DuckDB oracle in
  // r9 by spelling the ALGORITHM in SQL: translate() maps letters to code
  // digits with H/W marked '7' (Spark's skip-without-reset semantics),
  // non-letters map to '0' (Spark's lastCode-reset path — identical
  // observable effect to a vowel), the '7's are filtered OUT of the code
  // sequence (they never update lastCode), and a code is emitted when it
  // differs from its predecessor in that filtered sequence and is not
  // '0'; first letter + first 3 emitted codes, zero-padded. Argument set:
  // the letters-and-spaces vocabulary (p_type words, nation names with
  // embedded spaces for the non-letter path, mktsegments) — digits are
  // excluded because an input '0'-'7' would be indistinguishable from a
  // code after translate().
  q("fn_soundex",
    """WITH words AS (
      |  SELECT DISTINCT w FROM (
      |    SELECT unnest(string_split(p_type, ' ')) AS w FROM part
      |    UNION SELECT n_name FROM nation
      |    UNION SELECT c_mktsegment FROM customer
      |  )
      |), s AS (
      |  SELECT w, upper(w) AS u FROM words
      |), c AS (
      |  SELECT w, substr(u, 1, 1) AS f,
      |    list_prepend(
      |      translate(substr(u, 1, 1), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |                '01230127022455012623017202'),
      |      list_filter(
      |        list_transform(string_split(substr(u, 2), ''),
      |          ch -> CASE WHEN ch BETWEEN 'A' AND 'Z'
      |                THEN translate(ch, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |                               '01230127022455012623017202')
      |                ELSE '0' END),
      |        cd -> cd <> '7')) AS cds
      |  FROM s
      |), e AS (
      |  SELECT w, f, list_filter(
      |      list_transform(range(2, len(cds) + 1),
      |        i -> CASE WHEN cds[i] <> '0' AND cds[i] <> cds[i-1]
      |             THEN cds[i] ELSE '' END),
      |      x -> x <> '') AS em
      |  FROM c
      |)
      |SELECT w, substr(f || array_to_string(em, '') || '000', 1, 4) AS sdx
      |FROM e ORDER BY w""") { (s, dir) =>
    Tables(s, dir, "part")
      .select(explode(split(col("p_type"), " ")).as("w"))
      .union(Tables(s, dir, "nation").select(col("n_name").as("w")))
      .union(Tables(s, dir, "customer").select(col("c_mktsegment").as("w")))
      .distinct()
      .select(col("w"), soundex(col("w")).as("sdx"))
      .orderBy("w")
  }

  // width_bucket: equi-width histogram bucketing with explicit under/over-
  // flow buckets (0 and n+1). DuckDB lacks the function — the oracle spells
  // the same arithmetic; inputs are integral doubles so bucket boundaries
  // are exact in either formula.
  q("fn_width_bucket",
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_quantity < 1 THEN 0
      |       WHEN l_quantity >= 51 THEN 11
      |       ELSE CAST(floor((l_quantity - 1) / 5) AS INT) + 1 END AS qty_bucket
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("width_bucket(l_quantity, 1, 51, 10)").cast("int").as("qty_bucket"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // binary encodings + crypto round-trip: base64/hex/chr/ascii with
  // cross-engine oracles, and an AES ECB encrypt→decrypt round-trip whose
  // oracle is the identity (ECB is the deterministic mode; GCM's random IV
  // would break both the hash gate and idempotent reruns)
  q("fn_encoding",
    """SELECT n_nationkey,
      |  base64(CAST(n_name AS BLOB)) AS b64,
      |  CAST(from_base64(base64(CAST(n_name AS BLOB))) AS VARCHAR) AS b64_rt,
      |  hex(n_name) AS hx,
      |  chr(ascii(n_name) + 1) AS next_initial,
      |  n_name AS aes_rt
      |FROM nation
      |ORDER BY n_nationkey""") { (s, dir) =>
    val key = lit("0000111122223333")
    Tables(s, dir, "nation")
      .select(col("n_nationkey"),
        base64(col("n_name").cast("binary")).as("b64"),
        unbase64(base64(col("n_name").cast("binary"))).cast("string").as("b64_rt"),
        hex(col("n_name")).as("hx"),
        chr(ascii(col("n_name")) + 1).as("next_initial"),
        aes_decrypt(aes_encrypt(col("n_name").cast("binary"), key, lit("ECB")),
          key, lit("ECB")).cast("string").as("aes_rt"))
      .orderBy("n_nationkey")
  }

  // data masking: class-preserving redaction (upper→X, lower→x, digit→n)
  // — the export-safe PII transform that keeps format validators working.
  // The oracle spells the same classes as ordered regexp_replace chains.
  q("fn_mask",
    """SELECT c_custkey,
      |  regexp_replace(regexp_replace(regexp_replace(c_name,
      |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked_default,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(c_name,
      |    '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', 'd', 'g'),
      |    '[^Uld]', 'o', 'g') AS masked_custom
      |FROM customer
      |ORDER BY c_custkey""") { (s, dir) =>
    Tables(s, dir, "customer")
      .select(col("c_custkey"),
        mask(col("c_name")).as("masked_default"),
        mask(col("c_name"), lit("U"), lit("l"), lit("d"), lit("o")).as("masked_custom"))
      .orderBy("c_custkey")
  }

  // ANSI-safe error handling: try_cast / try_divide / try_add return NULL
  // instead of failing the job — at 100 TB one malformed row must not kill
  // a 1000-executor stage. DuckDB lacks try_divide/try_add; the oracle
  // spells the same semantics with guards.
  q("fn_try_safe",
    """SELECT o_orderkey,
      |  TRY_CAST(o_orderpriority AS INT) AS prio_int,
      |  TRY_CAST(o_orderkey AS SMALLINT) AS key_small,
      |  CASE WHEN o_custkey % 3 = 0 THEN NULL
      |       ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) / (o_custkey % 3)
      |  END AS price_per_bucket,
      |  CASE WHEN o_orderkey > 7 THEN NULL
      |       ELSE 9223372036854775800 + o_orderkey END AS near_overflow
      |FROM orders
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("try_cast(o_orderpriority AS INT)").as("prio_int"),
        expr("try_cast(o_orderkey AS SMALLINT)").as("key_small"),
        try_divide(Det.cents(col("o_totalprice")), col("o_custkey") % 3)
          .as("price_per_bucket"),
        try_add(lit(9223372036854775800L), col("o_orderkey")).as("near_overflow"))
      .orderBy("o_orderkey")
  }

  // higher-order array predicates: filter / exists / forall over token
  // arrays — all codegen'd lambda evaluation, no UDFs
  q("fn_array_predicates",
    """SELECT doc_id,
      |  CAST(len(list_filter(tk, t -> length(t) > 5)) AS INT) AS n_long,
      |  len(list_filter(tk, t -> t = 'the')) > 0 AS has_the,
      |  len(list_filter(tk, t -> length(t) < 1)) = 0 AS all_nonempty
      |FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents)
      |ORDER BY doc_id""") { (s, dir) =>
    val tk = split(lower(col("text")), " ")
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        size(filter(tk, t => length(t) > 5)).as("n_long"),
        exists(tk, t => t === "the").as("has_the"),
        forall(tk, t => length(t) >= 1).as("all_nonempty"))
      .orderBy("doc_id")
  }

  // trig family: java.lang.Math vs libm agree to the last ulp on these
  // inputs; round(·,4) absorbs any residual — a divergence would need the
  // true value within ~1e-16 of a 0.5e-4 boundary (P7 policy)
  q("fn_trig",
    """SELECT p_partkey,
      |  round(sin(p_size), 4) AS sin_v,
      |  round(cos(p_size), 4) AS cos_v,
      |  round(atan2(p_size, 7), 4) AS atan2_v,
      |  round(degrees(atan(p_size)), 4) AS deg_atan,
      |  round(radians(p_size), 4) AS rad_v
      |FROM part
      |ORDER BY p_partkey""") { (s, dir) =>
    Tables(s, dir, "part")
      .select(col("p_partkey"),
        round(sin(col("p_size")), 4).as("sin_v"),
        round(cos(col("p_size")), 4).as("cos_v"),
        round(atan2(col("p_size"), lit(7)), 4).as("atan2_v"),
        round(degrees(atan(col("p_size"))), 4).as("deg_atan"),
        round(radians(col("p_size")), 4).as("rad_v"))
      .orderBy("p_partkey")
  }

  // printf-style formatting: Spark format_string and DuckDB printf share the
  // C conversion spec for %d/%s/%x and zero-padded widths (floats excluded:
  // %f rounding is HALF_UP in Java but binary-round in C)
  q("fn_format",
    """SELECT n_nationkey,
      |  printf('%03d|%s|%d', n_nationkey, n_name, n_regionkey) AS tag,
      |  printf('0x%x', n_nationkey * 2654435761) AS hex_key
      |FROM nation
      |ORDER BY n_nationkey""") { (s, dir) =>
    Tables(s, dir, "nation")
      .select(col("n_nationkey"),
        format_string("%03d|%s|%d", col("n_nationkey"), col("n_name"),
          col("n_regionkey")).as("tag"),
        format_string("0x%x", col("n_nationkey") * lit(2654435761L)).as("hex_key"))
      .orderBy("n_nationkey")
  }

  q("fn_null_coalesce",
    """SELECT o_orderkey,
      |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
      |  ifnull(nullif(o_orderpriority, '5-LOW'), 'LOW') AS prio_or_low,
      |  nullif(o_orderstatus, 'F') IS NULL AS is_f
      |FROM orders
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        coalesce(expr("nullif(o_orderstatus, 'O')"), lit("open")).as("status_or_open"),
        expr("ifnull(nullif(o_orderpriority, '5-LOW'), 'LOW')").as("prio_or_low"),
        expr("nullif(o_orderstatus, 'F')").isNull.as("is_f"))
      .orderBy("o_orderkey")
  }

  // Deterministic namespace UUID (the v3/v5 shape: hash of namespace+key
  // formatted as a UUID) — the reproducible-surrogate-key op every ETL
  // needs when `uuid()` (random, run-dependent) would break idempotent
  // re-runs. Pure per-row string math.
  q("fn_uuid_deterministic",
    """SELECT o_orderkey,
      |  substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' || substr(h, 13, 4)
      |    || '-' || substr(h, 17, 4) || '-' || substr(h, 21, 12) AS uuid
      |FROM (SELECT o_orderkey, md5('graft:' || o_orderkey) AS h FROM orders)
      |ORDER BY o_orderkey""") { (s, dir) =>
    val h = md5(concat(lit("graft:"), col("o_orderkey").cast("string")))
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), h.as("h"))
      .select(col("o_orderkey"),
        concat_ws("-", substring(col("h"), 1, 8), substring(col("h"), 9, 4),
          substring(col("h"), 13, 4), substring(col("h"), 17, 4),
          substring(col("h"), 21, 12)).as("uuid"))
      .orderBy("o_orderkey")
  }

  // IPv4 string ↔ integer round-trip + /24 subnet — the log-enrichment
  // staple (the fixture has no IP column, so one is derived from the key
  // deterministically, parsed back, and bucketed). Per-row integer math.
  q("fn_ip_int",
    """WITH t AS (
      |  SELECT o_orderkey,
      |    '10.' || ((o_orderkey // 65536) % 256) || '.'
      |          || ((o_orderkey // 256) % 256) || '.' || (o_orderkey % 256) AS ip
      |  FROM orders
      |), p AS (
      |  SELECT o_orderkey, ip, string_split(ip, '.') AS o FROM t
      |)
      |SELECT o_orderkey, ip,
      |  CAST(o[1] AS BIGINT) * 16777216 + CAST(o[2] AS BIGINT) * 65536
      |    + CAST(o[3] AS BIGINT) * 256 + CAST(o[4] AS BIGINT) AS ip_int,
      |  CAST(o[1] AS BIGINT) * 16777216 + CAST(o[2] AS BIGINT) * 65536
      |    + CAST(o[3] AS BIGINT) * 256 AS subnet24
      |FROM p ORDER BY o_orderkey""") { (s, dir) =>
    val ip = concat(lit("10."), (expr("o_orderkey div 65536") % 256).cast("string"),
      lit("."), (expr("o_orderkey div 256") % 256).cast("string"),
      lit("."), (col("o_orderkey") % 256).cast("string"))
    val o = split(col("ip"), "\\.")
    def oct(i: Int) = element_at(o, i).cast("long")
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), ip.as("ip"))
      .select(col("o_orderkey"), col("ip"),
        (oct(1) * 16777216L + oct(2) * 65536L + oct(3) * 256L + oct(4)).as("ip_int"),
        (oct(1) * 16777216L + oct(2) * 65536L + oct(3) * 256L).as("subnet24"))
      .orderBy("o_orderkey")
  }

  // regexp_extract_all parity: pull EVERY match out of a string column
  // (not just the first — the scraping/log-mining primitive). The vowel-
  // run pattern stays inside the regex subset where Java (Spark) and RE2
  // (DuckDB) agree — character classes + greedy quantifiers, no
  // backrefs/lookarounds (P-rule: the regex seam bans engine-specific
  // syntax, not the function). Per-row codegen'd; nothing shuffles.
  q("fn_regex_extract_all",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[aeiou]{2,}')) AS INT) AS n_runs,
      |  regexp_extract_all(text, '[aeiou]{2,}')[1] AS first_run,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers
      |FROM documents WHERE doc_id <= 300
      |ORDER BY doc_id""") { (s, dir) =>
    Tables(s, dir, "documents")
      .filter(col("doc_id") <= 300)
      .withColumn("runs", expr("regexp_extract_all(text, '[aeiou]{2,}', 0)"))
      .select(col("doc_id"),
        size(col("runs")).cast("int").as("n_runs"),
        // guarded 1-based pick: DuckDB's [1] is NULL on empty lists, but
        // Spark's ANSI element_at throws out-of-bounds
        when(size(col("runs")) > 0, element_at(col("runs"), 1)).as("first_run"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("int")
          .as("n_numbers"))
      .orderBy("doc_id")
  }

  // Bitwise scalar surface: AND/OR/XOR, shifts, popcount — the hash-/
  // bitmap-manipulation primitives (all codegen'd integer ops). Engine
  // seam: DuckDB's `^` is exponentiation, so XOR is spelled xor() there
  // and `^` on the Spark side; semantics are identical two's-complement.
  q("fn_bits",
    """SELECT o_orderkey,
      |  o_orderkey & 2047 AS band,
      |  o_orderkey | 4096 AS bor,
      |  xor(o_orderkey, 1365) AS bxor,
      |  o_orderkey << 3 AS shl,
      |  o_orderkey >> 2 AS shr,
      |  CAST(bit_count(o_orderkey) AS INT) AS popcount
      |FROM orders WHERE o_orderkey <= 600
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .filter(col("o_orderkey") <= 600)
      .select(col("o_orderkey"),
        expr("o_orderkey & 2047").as("band"),
        expr("o_orderkey | 4096").as("bor"),
        expr("o_orderkey ^ 1365").as("bxor"),
        expr("shiftleft(o_orderkey, 3)").as("shl"),
        expr("shiftright(o_orderkey, 2)").as("shr"),
        expr("bit_count(o_orderkey)").cast("int").as("popcount"))
      .orderBy("o_orderkey")
  }

  // Edit-distance scalar: Levenshtein against canonical reference strings
  // — the fuzzy-matching primitive under entity resolution and typo-
  // tolerant dedup. Both engines implement the classic unit-cost dynamic
  // program, so the distances are exactly comparable; the similarity
  // ratio is quantized integer arithmetic over (distance, length).
  q("fn_levenshtein",
    """SELECT p_partkey,
      |  CAST(levenshtein(p_brand, 'Brand#33') AS BIGINT) AS d_brand,
      |  CAST(levenshtein(p_type, 'PROMO BURNISHED COPPER') AS BIGINT) AS d_type,
      |  CAST((greatest(length(p_type), 22)
      |        - levenshtein(p_type, 'PROMO BURNISHED COPPER')) * 10000
      |       // greatest(length(p_type), 22) AS DOUBLE) / 10000 AS sim_type
      |FROM part ORDER BY p_partkey""") { (s, dir) =>
    val refType = "PROMO BURNISHED COPPER"
    Tables(s, dir, "part")
      .select(col("p_partkey"),
        levenshtein(col("p_brand"), lit("Brand#33")).cast("long").as("d_brand"),
        levenshtein(col("p_type"), lit(refType)).cast("long").as("d_type"),
        (expr(s"(greatest(length(p_type), ${refType.length})"
          + s" - levenshtein(p_type, '$refType')) * 10000"
          + s" div greatest(length(p_type), ${refType.length})")
          .cast("double") / 10000).as("sim_type"))
      .orderBy("p_partkey")
  }

  // Padding / repetition / reversal scalar surface: lpad, rpad, repeat,
  // reverse, and translate — the fixed-width-report formatting family.
  q("fn_string_pad",
    """SELECT n_nationkey,
      |  lpad(n_name, 20, '.') AS padded_left,
      |  rpad(n_name, 20, '.') AS padded_right,
      |  repeat('-', CAST(n_nationkey % 5 + 1 AS INT)) AS rule_mark,
      |  reverse(n_name) AS reversed,
      |  translate(n_name, 'AEIOU', 'aeiou') AS lowered_vowels
      |FROM nation ORDER BY n_nationkey""") { (s, dir) =>
    Tables(s, dir, "nation")
      .select(col("n_nationkey"),
        lpad(col("n_name"), 20, ".").as("padded_left"),
        rpad(col("n_name"), 20, ".").as("padded_right"),
        expr("repeat('-', cast(n_nationkey % 5 + 1 as int))").as("rule_mark"),
        reverse(col("n_name")).as("reversed"),
        translate(col("n_name"), "AEIOU", "aeiou").as("lowered_vowels"))
      .orderBy("n_nationkey")
  }

  // Higher-order array function parity: transform / filter / reduce /
  // exists / zip_with against DuckDB's list_* family, over a per-row
  // derived integer sequence. All codegen'd lambdas — the §2.8 surface a
  // pipeline DSL compiles array manipulations onto. Integer-only
  // payloads (P2-free). The array-valued intermediates are rendered as
  // comma-joined strings at the output seam (array_join /
  // array_to_string) because the driver's pandas checker cannot lexsort
  // list cells (CORRECTNESS_r08 red cell); the array-typed form stays
  // golden-tested in ScalarsSpec. DuckDB's array_to_string of an EMPTY
  // list is NULL where Spark's array_join is '' — hence the COALESCE on
  // the oracle side (evens is empty whenever xs has no even element).
  q("fn_array_higher_order",
    """WITH t AS (
      |  SELECT n_nationkey AS k,
      |    range(1, n_nationkey % 5 + 3) AS xs
      |  FROM nation
      |)
      |SELECT k,
      |  COALESCE(array_to_string(list_transform(xs, x -> x * x), ','), '')
      |    AS squares,
      |  COALESCE(array_to_string(list_filter(xs, x -> x % 2 = 0), ','), '')
      |    AS evens,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), xs), (a, b) -> a + b)
      |    AS total,
      |  CAST(len(list_filter(xs, x -> x > 3)) > 0 AS INT) AS has_gt3,
      |  COALESCE(array_to_string(list_transform(
      |    list_zip(xs, list_reverse_sort(xs)), z -> z[1] + z[2]), ','), '')
      |    AS zipped_sum
      |FROM t ORDER BY k""") { (s, dir) =>
    Tables(s, dir, "nation")
      .select(col("n_nationkey").as("k"),
        sequence(lit(1L), (col("n_nationkey") % 5 + 2).cast("long")).as("xs"))
      .select(col("k"),
        array_join(transform(col("xs"), x => (x * x).cast("string")), ",")
          .as("squares"),
        array_join(transform(filter(col("xs"), x => x % 2 === 0),
          x => x.cast("string")), ",").as("evens"),
        aggregate(col("xs"), lit(0L), (a, b) => a + b).as("total"),
        exists(col("xs"), x => x > 3).cast("int").as("has_gt3"),
        array_join(transform(zip_with(col("xs"),
          reverse(array_sort(col("xs"))), (a, b) => a + b),
          x => x.cast("string")), ",").as("zipped_sum"))
      .orderBy("k")
  }

  // Native Jaro-Winkler similarity (functions/JaroWinkler.scala — codegen
  // expression) against DuckDB's built-in jaro_winkler_similarity: the
  // fuzzy-match ranking entity resolution runs when levenshtein's integer
  // distance is too blunt. Argument set = nation-name pairs (≤625 — P17
  // bounded); both engines compute the identical textbook double tree
  // (verified bit-equal), quantized at 6 dp. Broadcast self-join; the
  // expression runs inside whole-stage codegen.
  q("fn_jaro_winkler",
    """SELECT a.n_name AS name1, b.n_name AS name2,
      |  floor(jaro_winkler_similarity(a.n_name, b.n_name) * 1000000 + 0.5)
      |    / 1000000 AS jw,
      |  CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS lev
      |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
      |ORDER BY floor(jaro_winkler_similarity(a.n_name, b.n_name) * 1000000
      |  + 0.5) / 1000000 DESC, name1, name2
      |LIMIT 15""") { (s, dir) =>
    val n = Tables(s, dir, "nation")
    val a = n.select(col("n_nationkey").as("k1"), col("n_name").as("name1"))
    val b = n.select(col("n_nationkey").as("k2"), col("n_name").as("name2"))
    a.join(broadcast(b), col("k1") < col("k2"))
      .select(col("name1"), col("name2"),
        (floor(call_function("graft_jw", col("name1"), col("name2"))
          * 1000000 + lit(0.5)) / 1000000).as("jw"),
        levenshtein(col("name1"), col("name2")).cast("long").as("lev"))
      .orderBy(col("jw").desc, col("name1"), col("name2"))
      .limit(15)
  }

  // Great-circle (haversine) distance between synthetic nation centroids:
  // lat/lon derived from the key by pure integer-and-double arithmetic
  // (bit-identical in both engines), then the textbook haversine with
  // R = 6371 km. Determinism: sin/cos/asin are transcendental, but the
  // argument set is tiny (n² nation pairs, 625 here) and the result is
  // fixed at 10⁻¹ km — the same few-distinct-arguments rationale as
  // Det.lnFix: a last-ulp libm disagreement only matters if a value also
  // sits within an ulp of a .05 km boundary, jointly unobservable.
  // Closest-pairs output keeps it a broadcast n×n problem — a geo join at
  // corpus scale would go through join_spatial_grid's grid blocking, not
  // this all-pairs form.
  q("fn_geo_haversine",
    """WITH pt AS (
      |  SELECT n_nationkey AS k, n_name AS name,
      |    -60 + (n_nationkey * 7) % 120 + n_nationkey * 0.25 AS lat,
      |    -170 + (n_nationkey * 29) % 340 + n_nationkey * 0.125 AS lon
      |  FROM nation
      |), pr AS (
      |  SELECT a.k AS k1, a.name AS name1, b.k AS k2, b.name AS name2,
      |    2 * 6371.0 * asin(sqrt(
      |      sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
      |      + cos(radians(a.lat)) * cos(radians(b.lat))
      |        * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
      |    )) AS dist
      |  FROM pt a JOIN pt b ON a.k < b.k
      |)
      |SELECT k1, name1, k2, name2,
      |  floor(dist * 10 + 0.5) / 10 AS dist_km
      |FROM pr ORDER BY floor(dist * 10 + 0.5) / 10, k1, k2 LIMIT 20""") { (s, dir) =>
    val pt = Tables(s, dir, "nation").select(
      col("n_nationkey").as("k"), col("n_name").as("name"),
      (lit(-60) + (col("n_nationkey") * 7) % 120
        + col("n_nationkey") * 0.25).as("lat"),
      (lit(-170) + (col("n_nationkey") * 29) % 340
        + col("n_nationkey") * 0.125).as("lon"))
    val a = pt.select(col("k").as("k1"), col("name").as("name1"),
      col("lat").as("lat1"), col("lon").as("lon1"))
    val b = pt.select(col("k").as("k2"), col("name").as("name2"),
      col("lat").as("lat2"), col("lon").as("lon2"))
    val dlat = radians(col("lat2") - col("lat1")) / 2
    val dlon = radians(col("lon2") - col("lon1")) / 2
    val dist = lit(2) * lit(6371.0) * asin(sqrt(
      sin(dlat) * sin(dlat)
        + cos(radians(col("lat1"))) * cos(radians(col("lat2")))
        * sin(dlon) * sin(dlon)))
    a.join(broadcast(b), col("k1") < col("k2"))
      .select(col("k1"), col("name1"), col("k2"), col("name2"),
        (floor(dist * 10 + lit(0.5)) / 10).as("dist_km"))
      .orderBy(col("dist_km"), col("k1"), col("k2"))
      .limit(20)
  }

  // Native TRUE Damerau-Levenshtein distance (functions/
  // DamerauLevenshtein.scala — Lowrance-Wagner, transposition-aware,
  // codegen expression) against DuckDB's built-in damerau_levenshtein —
  // the typo-tolerant edit distance entity resolution prefers when
  // swapped adjacent letters are the dominant error class. Argument set:
  // the DISTINCT part-name catalog blocked on the noun token (P17
  // domain-bounded — the catalog is a fixed cross of color × noun words,
  // so the blocked pair count is constant at ANY fact-table scale); plain
  // levenshtein rides along to show dl ≤ lev on every pair. Equi-join on
  // the block key, never an all-pairs product.
  q("fn_damerau_levenshtein",
    """WITH p AS (
      |  SELECT DISTINCT p_name AS nm FROM part
      |), q AS (
      |  SELECT nm, string_split(nm, ' ')[2] AS blk FROM p
      |)
      |SELECT a.nm AS name1, b.nm AS name2,
      |  CAST(damerau_levenshtein(a.nm, b.nm) AS BIGINT) AS dl,
      |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS lev
      |FROM q a JOIN q b ON a.blk = b.blk AND a.nm < b.nm
      |ORDER BY dl, name1, name2
      |LIMIT 25""") { (s, dir) =>
    val p = Tables(s, dir, "part").select(col("p_name").as("nm")).distinct()
    val q0 = p.select(col("nm"), split(col("nm"), " ").getItem(1).as("blk"))
    val a = q0.select(col("nm").as("name1"), col("blk"))
    val b = q0.select(col("nm").as("name2"), col("blk").as("blk2"))
    a.join(b, col("blk") === col("blk2") && col("name1") < col("name2"))
      .select(col("name1"), col("name2"),
        call_function("graft_dl", col("name1"), col("name2"))
          .cast("long").as("dl"),
        levenshtein(col("name1"), col("name2")).cast("long").as("lev"))
      .orderBy(col("dl"), col("name1"), col("name2"))
      .limit(25)
  }

  // URL component extraction — scheme/host/port/path/query/fragment via
  // RE2-safe regexp groups over the synthesized URL fixture (the
  // llm_url_dedup device). Every component is present in every fixture
  // URL by construction, so the engines' empty-match conventions never
  // diverge. Pure codegen'd projections; §2.8's string-parsing row.
  q("fn_url_parts",
    """WITH u AS (
      |  SELECT doc_id,
      |    'HTTPS://WWW.' || source || '.Example.COM:443/d/'
      |      || CAST(doc_id % 7 AS VARCHAR) || '?utm_campaign=c'
      |      || CAST(doc_id % 3 AS VARCHAR) || '&id='
      |      || CAST(doc_id % 50 AS VARCHAR) || '&ref=feed#top' AS url
      |  FROM documents
      |)
      |SELECT doc_id,
      |  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |  lower(regexp_extract(url, '://([^/:?#]+)', 1)) AS host,
      |  CAST(regexp_extract(url, ':([0-9]+)/', 1) AS BIGINT) AS port,
      |  regexp_extract(url, '://[^/]+(/[^?#]*)', 1) AS path,
      |  regexp_extract(url, '\?([^#]*)', 1) AS query,
      |  regexp_extract(url, '#(.*)$', 1) AS fragment
      |FROM u ORDER BY doc_id LIMIT 50""") { (s, dir) =>
    val u = Tables(s, dir, "documents").select(col("doc_id"),
      concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/d/"),
        (col("doc_id") % 7).cast("string"), lit("?utm_campaign=c"),
        (col("doc_id") % 3).cast("string"), lit("&id="),
        (col("doc_id") % 50).cast("string"), lit("&ref=feed#top")).as("url"))
    u.select(col("doc_id"),
      lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)).as("scheme"),
      lower(regexp_extract(col("url"), "://([^/:?#]+)", 1)).as("host"),
      regexp_extract(col("url"), ":([0-9]+)/", 1).cast("long").as("port"),
      regexp_extract(col("url"), "://[^/]+(/[^?#]*)", 1).as("path"),
      regexp_extract(col("url"), "\\?([^#]*)", 1).as("query"),
      regexp_extract(col("url"), "#(.*)$", 1).as("fragment"))
      .orderBy("doc_id").limit(50)
  }

  // Extended math scalar battery — cbrt / log2 / log10 / signum /
  // radians / degrees / fractional power / factorial over part
  // attributes, rounding out §2.8's numeric coverage. Every
  // transcendental output is floor-quantized (1e-6) because Java's and
  // libm's last-ulp can differ on identical inputs (the Det.lnFix
  // boundary argument — ~75 distinct arguments per function here, so a
  // quantization-boundary hit is astronomically unlikely and would
  // surface as a visible oracle mismatch, not silent corruption).
  // factorial stays exact: integer argument ≤ 9 → exact BIGINT in both.
  q("fn_math_extra",
    """SELECT p_partkey,
      |  CAST(floor(cbrt(p_retailprice) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS cbrt_price,
      |  CAST(floor(log2(CAST(p_size AS DOUBLE)) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS log2_size,
      |  CAST(floor(log10(p_retailprice) * 1000000 + 0.5) AS DOUBLE)
      |    / 1000000 AS log10_price,
      |  CAST(sign(p_size - 25) AS BIGINT) AS sign_size,
      |  CAST(floor(radians(CAST(p_size AS DOUBLE)) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS radians_size,
      |  CAST(floor(degrees(p_retailprice / 1000) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS degrees_kprice,
      |  CAST(floor(pow(CAST(p_size AS DOUBLE), 1.5) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS size_pow15,
      |  CAST(factorial(p_size % 10) AS BIGINT) AS fact_size
      |FROM part ORDER BY p_partkey LIMIT 75""") { (s, dir) =>
    Tables(s, dir, "part").select(col("p_partkey"),
      (floor(cbrt(col("p_retailprice")) * 1000000 + lit(0.5)).cast("double")
        / 1000000).as("cbrt_price"),
      (floor(log2(col("p_size").cast("double")) * 1000000 + lit(0.5))
        .cast("double") / 1000000).as("log2_size"),
      (floor(log10(col("p_retailprice")) * 1000000 + lit(0.5)).cast("double")
        / 1000000).as("log10_price"),
      signum(col("p_size") - 25).cast("long").as("sign_size"),
      (floor(radians(col("p_size").cast("double")) * 1000000 + lit(0.5))
        .cast("double") / 1000000).as("radians_size"),
      (floor(degrees(col("p_retailprice") / 1000) * 1000000 + lit(0.5))
        .cast("double") / 1000000).as("degrees_kprice"),
      (floor(pow(col("p_size").cast("double"), 1.5) * 1000000 + lit(0.5))
        .cast("double") / 1000000).as("size_pow15"),
      factorial(col("p_size") % 10).cast("long").as("fact_size"))
      .orderBy("p_partkey").limit(75)
  }

  // Luhn checksum validation (Spark 4 luhn_check) — the mod-10 digit
  // check behind card/IMEI/account-number detection in PII scrubbing and
  // DQ gates. Candidates are derived 12-digit account strings (zero-pad
  // of a key transform, so both valid and invalid checksums occur); the
  // oracle replays Luhn from first principles at the digit level:
  // right-to-left, double every second digit, subtract 9 above 9, valid
  // iff the sum ≡ 0 (mod 10). One scalar call per row in the engine vs
  // an explode in the oracle — the point is the ENGINE surface.
  q("fn_luhn_check",
    """WITH cand AS (
      |  SELECT c_custkey,
      |    lpad(CAST(c_custkey * 7919 % 100000000000 AS VARCHAR), 12, '0')
      |      AS acct
      |  FROM customer
      |), d AS (
      |  SELECT c_custkey, acct, pos,
      |    CAST(substring(acct, CAST(13 - pos AS INT), 1) AS BIGINT) AS dig
      |  FROM (SELECT c_custkey, acct, unnest(range(1, 13)) AS pos FROM cand)
      |), s AS (
      |  SELECT c_custkey, acct,
      |    SUM(CASE WHEN pos % 2 = 0 THEN
      |          CASE WHEN dig * 2 > 9 THEN dig * 2 - 9 ELSE dig * 2 END
      |        ELSE dig END) AS total
      |  FROM d GROUP BY c_custkey, acct
      |)
      |SELECT c_custkey, acct, (total % 10 = 0) AS luhn_ok
      |FROM s ORDER BY c_custkey""") { (s, dir) =>
    Tables(s, dir, "customer")
      .select(col("c_custkey"),
        lpad((col("c_custkey") * 7919 % 100000000000L).cast("string"),
          12, "0").as("acct"))
      .select(col("c_custkey"), col("acct"),
        expr("luhn_check(acct)").as("luhn_ok"))
      .orderBy("c_custkey")
  }

  // Spark 4 collation-aware semantics: a UTF8_LCASE-collated key makes
  // grouping (and =, ORDER BY) case-insensitive WITHOUT rewriting every
  // expression through lower() — the engine-level answer to mixed-case
  // categorical columns. The fixture derives a mixed-case segment
  // (half the rows lowercased), groups on the collated key, and reports
  // how many binary-distinct case variants each collated group merged —
  // the cell that proves collation (not prior normalization) did the
  // merging. Output keys are cast back to the default collation so the
  // dumped parquet schema stays a plain string.
  q("fn_collation_lcase",
    """SELECT lower(seg) AS seg, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_case_variants
      |FROM (
      |  SELECT CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
      |              ELSE lower(c_mktsegment) END AS seg
      |  FROM customer)
      |GROUP BY lower(seg) ORDER BY seg""") { (s, dir) =>
    val seg = when(col("c_custkey") % 2 === 0, col("c_mktsegment"))
      .otherwise(lower(col("c_mktsegment")))
    Tables(s, dir, "customer").select(seg.as("seg"))
      .groupBy(collate(col("seg"), "UTF8_LCASE").as("k"))
      .agg(count(lit(1)).cast("long").as("n"),
        countDistinct(col("seg")).cast("long").as("n_case_variants"))
      .select(lower(col("k")).cast("string").as("seg"), col("n"),
        col("n_case_variants"))
      .orderBy("seg")
  }

  // Spark 4 VARIANT surface: semi-structured values parsed ONCE into the
  // binary variant encoding, then path-extracted with per-path result
  // types — the open-schema column pattern (event payloads, scraped
  // metadata) that at 100 TB replaces N schema-evolution migrations with
  // one variant column. The JSON under test is built in-engine from
  // typed columns (ignoreNullFields=false so a SQL NULL becomes a JSON
  // null, exercising is_variant_null vs absent-path-NULL), so the oracle
  // recomputes every expected value directly from the same typed columns
  // — the graded claim is that parse → binary variant → typed
  // path-extraction is lossless and null-correct. try_variant_get with a
  // deliberately wrong target type ('click' AS BIGINT) must yield NULL,
  // not an error.
  q("fn_variant_nested",
    """SELECT event_id,
      |  event_type AS vt_tag,
      |  value AS vt_val,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS vt_k,
      |  user_id % 5 AS vt_arr1,
      |  CASE WHEN user_id % 3 = 0 THEN NULL ELSE user_id END AS vt_opt,
      |  (user_id % 3 = 0) AS vt_opt_isnull,
      |  CAST(NULL AS BIGINT) AS vt_try_bad,
      |  (event_id % 7 = 0) AS vt_missing_null
      |FROM events WHERE event_id < 500 ORDER BY event_id""") { (s, dir) =>
    val e = Tables(s, dir, "events").filter(col("event_id") < 500)
    val doc = to_json(struct(
      col("event_type").as("tag"),
      col("value").as("val"),
      get_json_object(col("props"), "$.k").cast("long").as("k"),
      array(col("user_id") % 10, col("user_id") % 5).as("arr"),
      when(col("user_id") % 3 === 0, lit(null).cast("long"))
        .otherwise(col("user_id")).as("opt")),
      Map("ignoreNullFields" -> "false"))
    val v = parse_json(doc)
    e.select(col("event_id"), v.as("v"))
      .select(col("event_id"),
        variant_get(col("v"), "$.tag", "string").as("vt_tag"),
        variant_get(col("v"), "$.val", "double").as("vt_val"),
        variant_get(col("v"), "$.k", "long").as("vt_k"),
        variant_get(col("v"), "$.arr[1]", "long").as("vt_arr1"),
        variant_get(col("v"), "$.opt", "long").as("vt_opt"),
        is_variant_null(variant_get(col("v"), "$.opt", "variant"))
          .as("vt_opt_isnull"),
        try_variant_get(col("v"), "$.tag", "long").as("vt_try_bad"),
        // an ABSENT path is SQL NULL (not JSON null): missing ≠ null is
        // the variant-vs-lax-JSON distinction worth pinning
        when(col("event_id") % 7 === 0,
          variant_get(col("v"), "$.absent", "long").isNull)
          .otherwise(lit(false)).as("vt_missing_null"))
      .orderBy("event_id")
  }

  // ANSI interval arithmetic (YEAR TO MONTH / DAY TO SECOND), including
  // interval × integer scaling — the typed replacement for ad-hoc
  // "add N*86400 seconds" epoch math. Cross-engine notes: both engines
  // clamp month-adds to the last day of the target month (1995-08-31 +
  // 1-6 → 1997-02-28, probed on both); DuckDB spells YM literals as
  // INTERVAL 18 MONTH and scaling as to_months/to_hours. All outputs
  // render as strings — interval-typed columns have engine-specific
  // display forms, dates/timestamps don't. Per-row map, no shuffle.
  q("fn_interval_arith",
    """SELECT o_orderkey,
      |  strftime(CAST(o_orderdate + INTERVAL 18 MONTH AS DATE), '%Y-%m-%d') AS plus_ym,
      |  strftime(CAST(o_orderdate AS TIMESTAMP)
      |    + INTERVAL '2 days 3 hours 4 minutes 5 seconds', '%Y-%m-%d %H:%M:%S') AS plus_dt,
      |  strftime(CAST(o_orderdate + to_months(CAST(o_orderkey % 4 AS INT)) AS DATE),
      |    '%Y-%m-%d') AS scaled_ym,
      |  strftime(CAST(o_orderdate AS TIMESTAMP)
      |    + to_hours(CAST(o_orderkey % 5 AS INT)), '%Y-%m-%d %H:%M:%S') AS scaled_dt
      |FROM orders
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate")
          + expr("INTERVAL '1-6' YEAR TO MONTH"), "yyyy-MM-dd").as("plus_ym"),
        date_format(col("o_orderdate").cast("timestamp")
          + expr("INTERVAL '2 03:04:05' DAY TO SECOND"),
          "yyyy-MM-dd HH:mm:ss").as("plus_dt"),
        date_format(col("o_orderdate")
          + expr("make_ym_interval(0, CAST(o_orderkey % 4 AS INT))"),
          "yyyy-MM-dd").as("scaled_ym"),
        date_format(col("o_orderdate").cast("timestamp")
          + expr("INTERVAL '1' HOUR * (o_orderkey % 5)"),
          "yyyy-MM-dd HH:mm:ss").as("scaled_dt"))
      .orderBy("o_orderkey")
  }

  // TIMESTAMP_NTZ (wall-clock, no zone) + convert_timezone — the Spark 4
  // type that makes "the event happened at 09:00 local" storable without
  // a session-timezone landmine. Zone choices are DST-free (Asia/Tokyo
  // fixed +9, Asia/Kolkata fixed +5:30) so the oracle replays the
  // conversions as constant-offset interval adds — the graded claim is
  // Spark's NTZ construction/conversion/rendering, not tzdb history.
  // Per-row map; the NTZ column prunes to the one parquet read.
  q("fn_timestamp_ntz",
    """WITH t AS (
      |  SELECT o_orderkey,
      |    make_timestamp(CAST(year(o_orderdate) AS INT),
      |      CAST(month(o_orderdate) AS INT), CAST(day(o_orderdate) AS INT),
      |      CAST(o_orderkey % 24 AS INT), 30, 0) AS ntz
      |  FROM orders)
      |SELECT o_orderkey,
      |  strftime(ntz, '%Y-%m-%d %H:%M:%S') AS ntz_str,
      |  strftime(ntz + INTERVAL 9 HOUR, '%Y-%m-%d %H:%M:%S') AS tokyo,
      |  strftime(ntz - INTERVAL 330 MINUTE, '%Y-%m-%d %H:%M:%S') AS from_ist
      |FROM t ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("""make_timestamp_ntz(year(o_orderdate), month(o_orderdate),
          day(o_orderdate), CAST(o_orderkey % 24 AS INT), 30, 0)""").as("ntz"))
      .select(col("o_orderkey"),
        col("ntz").cast("string").as("ntz_str"),
        date_format(expr("convert_timezone('UTC', 'Asia/Tokyo', ntz)"),
          "yyyy-MM-dd HH:mm:ss").as("tokyo"),
        date_format(expr("convert_timezone('Asia/Kolkata', 'UTC', ntz)"),
          "yyyy-MM-dd HH:mm:ss").as("from_ist"))
      .orderBy("o_orderkey")
  }

  // to_char / to_number — warehouse-style format-string rendering and
  // its inverse, graded as an exact round-trip. Cross-engine notes:
  // Spark's to_char space-pads to the template width (probed:
  // '  1,234.50' — 10 chars — for the 10-char '999,999.99'), so the
  // oracle lpads to the template width; DuckDB's fmt
  // format() refuses thousands separators on floats, so the oracle
  // renders from the exact integer cents (grouped quotient + zero-padded
  // remainder) — which is also why the round-trip is exact: both sides
  // format the same integer, not a binary double. Per-row map.
  q("fn_number_format",
    """WITH c AS (
      |  SELECT o_orderkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_orderkey,
      |  lpad(format('{:,}', cents // 100) || '.'
      |       || lpad(CAST(cents % 100 AS VARCHAR), 2, '0'), 12, ' ') AS usd,
      |  lpad(CAST(o_orderkey AS VARCHAR), 7, '0') AS okey_padded,
      |  CAST(cents AS DOUBLE) / 100 AS round_trip
      |FROM c ORDER BY o_orderkey""") { (s, dir) =>
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), Det.cents(col("o_totalprice")).as("cents"))
      .select(col("o_orderkey"),
        expr("to_char(CAST(cents AS DOUBLE) / 100, '9,999,999.99')").as("usd"),
        expr("to_char(o_orderkey, '0000000')").as("okey_padded"),
        col("cents").as("cents"))
      .select(col("o_orderkey"), col("usd"), col("okey_padded"),
        expr("CAST(to_number(usd, '9,999,999.99') AS DOUBLE)").as("round_trip"))
      .orderBy("o_orderkey")
  }

  // char vs byte vs bit length under multibyte UTF-8 — the distinction a
  // byte-budgeted system (shard caps, wire limits, tokenizer byte
  // fallback) must get right where char-counting silently overshoots.
  // The fixture text is pure ASCII (measured: octet_length == length on
  // every doc), so a deterministic CJK suffix ('汉' = 3 UTF-8 bytes,
  // doc_id % 4 copies) forces the units apart; both engines then measure
  // the same strings with their own UTF-8 machinery. left() stays
  // char-addressed on both sides. Per-row map, no shuffle.
  q("fn_length_units",
    """WITH t AS (
      |  SELECT doc_id, text || repeat('汉', CAST(doc_id % 4 AS INT)) AS s
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(s) AS INT) AS n_chars,
      |  CAST(octet_length(encode(s)) AS INT) AS n_bytes,
      |  CAST(octet_length(encode(s)) * 8 AS INT) AS n_bits,
      |  left(s, 3) AS first3,
      |  right(s, 2) AS last2
      |FROM t ORDER BY doc_id""") { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          expr("repeat('汉', CAST(doc_id % 4 AS INT))")).as("s"))
      .select(col("doc_id"),
        length(col("s")).as("n_chars"),
        octet_length(col("s")).as("n_bytes"),
        bit_length(col("s")).as("n_bits"),
        expr("left(s, 3)").as("first3"),
        expr("right(s, 2)").as("last2"))
      .orderBy("doc_id")
  }
}
