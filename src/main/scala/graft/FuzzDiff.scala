package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import scala.util.Random

import graft.core._

/** Differential fuzz vs DuckDB for the relational core (r12 verdict
  * task 8).
  *
  * The 100 registered oracle queries are fixed-shape; this harness
  * drives RANDOM small frames (random values, ~10% nulls, duplicate
  * keys, two tables per seed) through random op chains —
  * Filter → Sort → Head/Tail → Unique → FillNull(ffill/bfill) →
  * CumSum → Shift → GroupBy-reduce → Append → Merge(left/inner) —
  * executing each chain twice: through the engine, and through
  * GENERATED ANSI SQL in DuckDB over the same parquet tables
  * (tools/fuzzcheck.py, the check.py twin). Any semantics drift the
  * fixed corpus cannot see (null ordering, first-match rules,
  * first-appearance group order, stability tiebreaks, band-shifted
  * append ordinals) surfaces as a hash mismatch with the generated SQL
  * printed as the repro.
  *
  * Order mirroring: every generated table carries `rid` (0..n−1 =
  * ingest order). The engine's hidden `__ord` tracks exactly the same
  * total order (ingest sorts by rid; append's band shift ↔ rid + 10^9;
  * group first-appearance ↔ min row_number over the mirrored order), so
  * each SQL stage can reproduce order-sensitive semantics with
  * `ORDER BY <sort keys NULLS LAST>, rid`. The final projection drops
  * `rid`; the comparison itself is order-insensitive (rows sorted by
  * all columns before hashing).
  *
  * Float discipline: doubles are dyadic quarters |v| ≤ 1000 over ≤ ~120
  * rows, so every sum/mean both engines can compute is EXACT in double
  * — aggregation order can never produce a last-ULP hash break, making
  * exact hash equality a sound oracle even for mean/cumsum chains.
  */
object FuzzDiff {

  /** chain state: engine frame + mirrored SQL + mirrored sort spec. */
  private case class St(fr: TadaFrame, sub: String,
                        order: Seq[(String, Boolean)],
                        cols: Seq[String], types: Map[String, Char],
                        base: Boolean, labels: Seq[String])

  private def orderSql(order: Seq[(String, Boolean)], rev: Boolean = false): String = {
    val keys = order.map { case (c, d) =>
      s"$c ${if (d ^ rev) "DESC" else "ASC"} ${if (rev) "NULLS FIRST" else "NULLS LAST"}"
    }
    (keys :+ (if (rev) "rid DESC" else "rid ASC")).mkString(", ")
  }

  private def fmt(t: Char, rng: Random): String = t match {
    case 'l' => (rng.nextInt(2001) - 1000).toString
    case 'd' => ((rng.nextInt(8001) - 4000) / 4.0).toString
    case _   => s"'${('a' + rng.nextInt(5)).toChar}'"
  }

  def run(spark: SparkSession, seeds: Range, dir: String): (Int, Int) = {
    import spark.implicits._
    // fuzz under the planning every registered query gets (`Tables`
    // installs it on first load; the fuzz tables are read directly)
    graft.core.TerminalSort.install(spark)
    val tablesDir = s"$dir/tables"
    val outDir = s"$dir/out"
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm); p.delete()
    }
    rm(new java.io.File(dir))
    new java.io.File(tablesDir).mkdirs()
    new java.io.File(outDir).mkdirs()

    val oracle = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // NTZ coverage accounting (r20, r19 verdict item 2): the r19 NTZ
    // hole — every NTZ-sorted frame silently dropping to the
    // single-partition window form — was invisible to 2,000 seeds
    // because the corpus could not EXPRESS the type. Now half the seeds
    // flip ts to TIMESTAMP_NTZ at ingest, and the sweep FAILS unless
    // enough of them demonstrably reached a chunked/banded dispatch on
    // the NTZ axis (prefix-op note with ts as first sort key, or a
    // rollingDuration chunked note — its axis IS the ts column).
    var ntzSeeds = 0
    var ntzChunkedSeeds = 0

    for (seed <- seeds) {
      val rng = new Random(seed)
      // r19: half the seeds force the BANDED rankRep path (threshold 0 ⇒
      // any sorted grouping's group ordinal rides Prefix.materializeOrd
      // over the rep fields) — fuzz tables are far below the production
      // 32768 gate, so without this the banded form would only ever see
      // the hand-built GroupOrderSpec fixtures and q114, never a random
      // sort/group/append composition against DuckDB.
      spark.conf.set("graft.rankRep.maxWindowGroups",
        if (rng.nextBoolean()) "0" else "32768")
      // r20: per-seed coin flip of the ts column's zone flavor. The
      // parquet on disk stays LTZ (the DuckDB mirror is untouched —
      // naive walls either way); the ENGINE ingests ts cast to NTZ, so
      // every downstream op exercises the NTZ dispatch surface. Under
      // the pinned UTC session zone the cast preserves wall time, so
      // the generated SQL stays a valid oracle (fuzzcheck canonicalizes
      // both flavors to naive UTC walls before hashing).
      val ntzTs = rng.nextBoolean()
      if (ntzTs) ntzSeeds += 1
      var seedSawNtzChunk = false
      // k1 string shapes (r17, widened for the string sort-key image —
      // Prefix.stringImageExpr): single-char enums (injective image,
      // value-chunking), long shared-prefix values (the lcp-strip
      // window), values whose difference sits past the 6-byte window
      // (image COLLISION -> width path + within-chunk re-sort), and
      // char runs of varying length (prefix-order edges like "aa" <
      // "aab"). ASCII only: Spark and DuckDB both compare binary.
      def genStr(rng: Random): String = rng.nextInt(4) match {
        case 0 => ('a' + rng.nextInt(5)).toChar.toString
        case 1 => "pfx_common_" + ('a' + rng.nextInt(5)).toChar
        case 2 => "w%07d".format(rng.nextInt(30))
        case _ => ('a' + rng.nextInt(3)).toChar.toString * (1 + rng.nextInt(9))
      }
      def genRows(n: Int) = (0 until n).map { i =>
        (i.toLong,
          if (rng.nextInt(10) == 0) null else genStr(rng),
          if (rng.nextInt(10) == 0) None else Some(rng.nextInt(5).toLong),
          if (rng.nextInt(8) == 0) None else Some((rng.nextInt(2001) - 1000).toLong),
          if (rng.nextInt(8) == 0) None else Some((rng.nextInt(8001) - 4000) / 4.0),
          if (rng.nextInt(10) == 0) None
          else Some(new java.sql.Timestamp(1704067200000L + // 2024-01-01 UTC
            rng.nextInt(90 * 86400) * 1000L)))
      }
      val tm = s"t${seed}m"; val ta = s"t${seed}a"
      genRows(5 + rng.nextInt(56)).toDF("rid", "k1", "k2", "v1", "v2", "ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$tablesDir/$tm.parquet")
      genRows(5 + rng.nextInt(36)).toDF("rid", "k1", "k2", "v1", "v2", "ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$tablesDir/$ta.parquet")

      def ingest(t: String): TadaFrame = {
        val raw = spark.read.parquet(s"$tablesDir/$t.parquet")
        val flavored =
          if (ntzTs) raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
          else raw
        TadaFrame.ingest(flavored.orderBy("rid")).dropCols("rid")
      }

      val baseTypes = Map("k1" -> 's', "k2" -> 'l', "v1" -> 'l', "v2" -> 'd', "ts" -> 't')
      var st = St(ingest(tm), s"SELECT rid, k1, k2, v1, v2, ts FROM $tm",
        Nil, Seq("k1", "k2", "v1", "v2", "ts"), baseTypes, base = true, labels = Nil)

      // one random applicable op; returns None when the pick doesn't apply
      def step(): Option[St] = {
        val valueCols = st.cols.filterNot(st.labels.contains)
        val numCols = valueCols.filter(c => st.types(c) == 'l' || st.types(c) == 'd')
        val keyCols = Seq("k1", "k2").filter(st.cols.contains)
        rng.nextInt(28) match {
          case 0 if numCols.nonEmpty => // numeric filter
            val c = numCols(rng.nextInt(numCols.size))
            val lit = fmt(st.types(c), rng)
            val gt = rng.nextBoolean()
            Some(st.copy(
              fr = st.fr.filter(Map(c -> ((x: org.apache.spark.sql.Column) =>
                if (gt) x > F.expr(lit) else x <= F.expr(lit)))),
              sub = s"SELECT * FROM (${st.sub}) WHERE $c IS NOT NULL AND $c ${if (gt) ">" else "<="} $lit"))
          case 1 if st.cols.contains("k1") && st.types("k1") == 's' => // string filter
            val lit = fmt('s', rng)
            Some(st.copy(
              fr = st.fr.filter(Map("k1" -> ((x: org.apache.spark.sql.Column) => x === F.expr(lit)))),
              sub = s"SELECT * FROM (${st.sub}) WHERE k1 IS NOT NULL AND k1 = $lit"))
          case 2 => // sort, 1-2 keys. r20: ~1/4 of sorts force ts FIRST
            // (when present) — the first sort key is the chunk axis, and
            // a ts-led sort is exactly the r19 NTZ-hole shape; unbiased
            // picks made it ~3% of seeds, too sparse to own the type axis
            val picked = rng.shuffle(st.cols.toList).take(1 + rng.nextInt(2))
            val names =
              if (st.cols.contains("ts") && rng.nextInt(4) == 0)
                ("ts" :: picked.filterNot(_ == "ts")).take(2)
              else picked
            val ks = names.map(c => (c, rng.nextBoolean()))
            Some(st.copy(
              fr = st.fr.sort(ks.map { case (c, d) => Sorter(c, descending = d) }: _*),
              order = ks))
          case 3 => // head / tail
            val n = 1 + rng.nextInt(15)
            val tail = rng.nextBoolean()
            Some(st.copy(
              fr = if (tail) st.fr.tail(n) else st.fr.head(n),
              sub = s"SELECT * FROM (${st.sub}) ORDER BY ${orderSql(st.order, rev = tail)} LIMIT $n"))
          case 4 if keyCols.nonEmpty && st.labels.isEmpty => // unique by key, first appearance
            val k = keyCols(rng.nextInt(keyCols.size))
            Some(st.copy(
              fr = st.fr.unique(subset = Seq(k)),
              sub = s"SELECT * FROM (${st.sub}) QUALIFY row_number() OVER " +
                s"(PARTITION BY $k ORDER BY ${orderSql(st.order)}) = 1"))
          case 5 if numCols.nonEmpty => // whole-frame ffill / bfill
            val c = numCols(rng.nextInt(numCols.size))
            val fwd = rng.nextBoolean()
            val frame = if (fwd) "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                        else "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
            val fn = if (fwd) "last_value" else "first_value"
            val fillExpr = s"$fn($c IGNORE NULLS) OVER " +
              s"(ORDER BY ${orderSql(st.order)} $frame) AS $c"
            val fr2 = st.fr.fillNull(Map(c ->
              (if (fwd) FillNullHow.Forward else FillNullHow.Backward)))
            if (st.order.exists(_._1 == c)) {
              // filling a SORT KEY: the engine anchors the current order
              // into its ordinal before overwriting (withCol's anchor
              // path) — mirror by freezing the OLD order into rid and
              // clearing the sort spec (caught by fuzz seed 30: the
              // naive mirror re-sorted by the FILLED values)
              val others = st.cols.filterNot(_ == c).mkString(", ")
              Some(st.copy(fr = fr2,
                sub = s"SELECT $others, $fillExpr, row_number() OVER " +
                  s"(ORDER BY ${orderSql(st.order)}) AS rid FROM (${st.sub})",
                order = Nil))
            } else {
              val others = (st.cols.filterNot(_ == c) :+ "rid").mkString(", ")
              Some(st.copy(fr = fr2,
                sub = s"SELECT $others, $fillExpr FROM (${st.sub})"))
            }
          case 6 => // whole-frame cumsum over a long col
            val longs = numCols.filter(c => st.types(c) == 'l')
            if (longs.isEmpty) None else {
              val c = longs(rng.nextInt(longs.size))
              val out = if (st.cols.contains("cs")) "cs2" else "cs"
              if (st.cols.contains(out)) None else Some(st.copy(
                fr = Analytics.cumSum(st.fr, c, out),
                sub = s"SELECT *, CAST(sum(COALESCE($c, 0)) OVER (ORDER BY ${orderSql(st.order)} " +
                  s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS $out FROM (${st.sub})",
                cols = st.cols :+ out, types = st.types + (out -> 'l'), base = false))
            }
          case 7 => // whole-frame shift (lag / lead)
            val c = st.cols(rng.nextInt(st.cols.size))
            val n = Seq(-2, -1, 1, 2, 5)(rng.nextInt(5))
            val out = if (st.cols.contains("sh")) "sh2" else "sh"
            if (st.cols.contains(out)) None else Some(st.copy(
              fr = Analytics.shift(st.fr, c, n, out),
              sub = s"SELECT *, ${if (n > 0) s"lag($c, $n)" else s"lead($c, ${-n})"} OVER " +
                s"(ORDER BY ${orderSql(st.order)}) AS $out FROM (${st.sub})",
              cols = st.cols :+ out, types = st.types + (out -> st.types(c)), base = false))
          case 8 if keyCols.nonEmpty && st.labels.isEmpty => // groupBy + reduce
            val k = keyCols(rng.nextInt(keyCols.size))
            val others = st.cols.filterNot(_ == k)
            val agg = Seq("sum", "mean", "count", "min", "max", "median", "nunique")(rng.nextInt(7))
            val targets = agg match {
              case "sum" | "mean" | "median" =>
                // median: exact percentile, mid-average on even counts —
                // dyadic inputs keep the midpoint exact in both engines
                others.filter(c => st.types(c) == 'l' || st.types(c) == 'd')
              // nunique counts DISTINCT STRINGIFIED values — injective for
              // longs/strings; double/timestamp stringification is engine-
              // specific, excluded
              case "nunique" => others.filter(c => st.types(c) == 'l' || st.types(c) == 's')
              case _ => others
            }
            if (targets.isEmpty) None else {
              val g = st.fr.groupBy(k)
              val fr2 = agg match {
                case "sum" => g.sum(targets: _*)
                case "mean" => g.mean(targets: _*)
                case "count" => g.count(targets: _*)
                case "min" => g.min(targets: _*)
                case "max" => g.max(targets: _*)
                case "median" => g.median(targets: _*)
                case "nunique" => g.nUnique(targets: _*)
              }
              val aggSql = targets.map { c =>
                val o = s"${agg}_$c"
                agg match {
                  case "sum" if st.types(c) == 'l' => s"CAST(sum($c) AS BIGINT) AS $o"
                  case "sum" => s"sum($c) AS $o"
                  case "mean" => s"avg($c) AS $o"
                  case "count" => s"count($c) AS $o"
                  case "median" => s"median($c) AS $o"
                  case "nunique" => s"CAST(count(DISTINCT $c) AS BIGINT) AS $o"
                  case _ => s"$agg($c) AS $o"
                }
              }.mkString(", ")
              val newTypes = targets.map { c =>
                val t = agg match {
                  case "mean" | "median" => 'e' // exact value, but NOT dyadic
                  case "count" | "nunique" => 'l'
                  case _ => st.types(c)
                }
                s"${agg}_$c" -> t
              }.toMap + (k -> st.types(k))
              Some(St(fr2,
                s"SELECT $k, CAST(min(pos) AS BIGINT) AS rid, $aggSql FROM " +
                  s"(SELECT *, row_number() OVER (ORDER BY ${orderSql(st.order)}) AS pos " +
                  s"FROM (${st.sub})) GROUP BY $k",
                Nil, k +: targets.map(c => s"${agg}_$c"), newTypes,
                base = false, labels = Seq(k)))
            }
          case 9 if st.base => // append the aux table (band-shifted ordinals)
            Some(st.copy(
              fr = st.fr.append(ingest(ta)),
              sub = s"SELECT rid, k1, k2, v1, v2, ts FROM (${st.sub}) UNION ALL " +
                s"SELECT rid + 1000000000 AS rid, k1, k2, v1, v2, ts FROM $ta",
              base = false))
          case 10 if st.base => // merge aux on k2, first-match, left or inner
            val how = if (rng.nextBoolean()) "left" else "inner"
            val fr2 = Lookup.merge(st.fr, ingest(ta), how, Seq("k2"), Seq("k2"))
            val dedup = s"SELECT k2, k1 AS k1_1, v1 AS v1_1, v2 AS v2_1, ts AS ts_1 FROM " +
              s"(SELECT * FROM $ta QUALIFY row_number() OVER (PARTITION BY k2 ORDER BY rid) = 1)"
            val joined = s"SELECT l.*, r.k1_1, r.v1_1, r.v2_1, r.ts_1 FROM (${st.sub}) l " +
              s"LEFT JOIN ($dedup) r ON l.k2 = r.k2"
            // inner = left merge + DropNull over every VALUE column
            val allCols = st.cols ++ Seq("k1_1", "v1_1", "v2_1", "ts_1")
            val sub2 =
              if (how == "left") joined
              else s"SELECT * FROM ($joined) WHERE " +
                allCols.map(c => s"$c IS NOT NULL").mkString(" AND ")
            Some(st.copy(fr = fr2, sub = sub2, cols = allCols,
              types = st.types ++ Map("k1_1" -> 's', "v1_1" -> 'l', "v2_1" -> 'd', "ts_1" -> 't'),
              base = false))
          case 11 if numCols.nonEmpty => // dense rank: all THREE forms vs ONE SQL
            val c = numCols(rng.nextInt(numCols.size))
            val out = if (st.cols.contains("rk")) "rk2" else "rk"
            if (st.cols.contains(out)) None else {
              val part = if (st.cols.contains("k1") && c != "k1" && rng.nextBoolean())
                Seq("k1") else Nil
              // r18: the chunked value-axis form is picked EXPLICITLY —
              // fuzz frames are vocabulary-sized, so the dispatcher
              // would always route them to by-value and the chunked
              // plan (q110's scale form) would never fuzz
              val fr2 = rng.nextInt(3) match {
                case 0 => Analytics.rankDenseByValue(st.fr, c, out, part)
                case 1 => Analytics.rankDenseChunked(st.fr, c, out, part)(
                  Analytics.rankDenseWindow(st.fr, c, out, part))
                case _ => Analytics.rankDense(st.fr, c, out, part)
              }
              val pw = if (part.isEmpty) "" else s"PARTITION BY ${part.head} "
              val pw0 = if (part.isEmpty) "OVER ()" else s"OVER (PARTITION BY ${part.head})"
              Some(st.copy(fr = fr2,
                sub = s"SELECT *, CASE WHEN $c IS NULL THEN NULL ELSE " +
                  s"dense_rank() OVER (${pw}ORDER BY $c ASC NULLS FIRST) - " +
                  s"(CASE WHEN count(*) FILTER (WHERE $c IS NULL) $pw0 > 0 THEN 1 ELSE 0 END) " +
                  s"END AS $out FROM (${st.sub})",
                cols = st.cols :+ out, types = st.types + (out -> 'l'), base = false))
            }
          case 12 if numCols.nonEmpty => // exclusive percentile, all THREE forms vs ONE SQL
            val c = numCols(rng.nextInt(numCols.size))
            val out = if (st.cols.contains("pc")) "pc2" else "pc"
            if (st.cols.contains(out)) None else {
              val part = if (st.cols.contains("k1") && c != "k1" && rng.nextBoolean())
                Seq("k1") else Nil
              val fr2 = rng.nextInt(3) match {
                case 0 => Analytics.percentileByValue(st.fr, c, out, part)
                case 1 => Analytics.percentileChunked(st.fr, c, out, part)(
                  Analytics.percentileWindow(st.fr, c, out, part))
                case _ => Analytics.percentile(st.fr, c, out, part)
              }
              val pw = if (part.isEmpty) "" else s"PARTITION BY ${part.head} "
              val pw0 = if (part.isEmpty) "OVER ()" else s"OVER (PARTITION BY ${part.head})"
              Some(st.copy(fr = fr2,
                sub = s"SELECT *, CASE WHEN $c IS NULL THEN NULL ELSE " +
                  s"CAST(rank() OVER (${pw}ORDER BY $c ASC NULLS FIRST) - " +
                  s"(count(*) $pw0 - count($c) $pw0) - 1 AS DOUBLE) / count($c) $pw0 " +
                  s"END AS $out FROM (${st.sub})",
                // 'e' = INEXACT double: a percentile is k/n, not dyadic, so
                // summing several later is order-dependent in the last ULP
                // (caught by fuzz seed 224) — excluded from sum/mean/rolling
                cols = st.cols :+ out, types = st.types + (out -> 'e'), base = false))
            }
          case 13 if numCols.exists(c => st.types(c) == 'd') => // bin (left-excl right-incl)
            val ds = numCols.filter(c => st.types(c) == 'd')
            val c = ds(rng.nextInt(ds.size))
            val out = if (st.cols.contains("bn")) "bn2" else "bn"
            if (st.cols.contains(out)) None else {
              val edges = Seq.fill(3)(rng.nextInt(1601) - 800).distinct.sorted.map(_.toDouble)
              if (edges.size < 2) None else {
                val andLess = rng.nextBoolean(); val andMore = rng.nextBoolean()
                def f(d: Double) = d.toLong.toString // integral edges by construction
                val binCases = edges.sliding(2).map { case Seq(lo, hi) =>
                  s"WHEN $c > ${f(lo)} AND $c <= ${f(hi)} THEN '${f(lo)}-${f(hi)}'"
                }.mkString(" ")
                val moreCase = if (andMore) s"WHEN $c > ${f(edges.last)} THEN '>${f(edges.last)}' " else ""
                val lessCase = if (andLess) s"WHEN $c <= ${f(edges.head)} THEN '<=${f(edges.head)}' " else ""
                Some(st.copy(
                  fr = Analytics.bin(st.fr, c, edges, out, andLess = andLess, andMore = andMore),
                  sub = s"SELECT *, CASE WHEN $c IS NULL THEN NULL " +
                    moreCase + lessCase + binCases + s" ELSE NULL END AS $out FROM (${st.sub})",
                  cols = st.cols :+ out, types = st.types + (out -> 's'), base = false))
              }
            }
          case 14 if st.cols.contains("k1") => // PER-KEY cumsum / shift (q24/q25 shape)
            val longs = numCols.filter(c => st.types(c) == 'l' && c != "k1")
            if (longs.isEmpty) None else {
              val c = longs(rng.nextInt(longs.size))
              val out = if (st.cols.contains("gw")) "gw2" else "gw"
              if (st.cols.contains(out)) None else if (rng.nextBoolean()) {
                Some(st.copy(
                  fr = Analytics.cumSum(st.fr, c, out, partitionBy = Seq("k1")),
                  sub = s"SELECT *, CAST(sum(COALESCE($c, 0)) OVER (PARTITION BY k1 " +
                    s"ORDER BY ${orderSql(st.order)} ROWS BETWEEN UNBOUNDED PRECEDING AND " +
                    s"CURRENT ROW) AS BIGINT) AS $out FROM (${st.sub})",
                  cols = st.cols :+ out, types = st.types + (out -> 'l'), base = false))
              } else {
                val sh = 1 + rng.nextInt(3)
                Some(st.copy(
                  fr = Analytics.shift(st.fr, c, sh, out, partitionBy = Seq("k1")),
                  sub = s"SELECT *, lag($c, $sh) OVER (PARTITION BY k1 " +
                    s"ORDER BY ${orderSql(st.order)}) AS $out FROM (${st.sub})",
                  cols = st.cols :+ out, types = st.types + (out -> 'l'), base = false))
              }
            }
          case 15 if numCols.nonEmpty => // rollingN sum (incomplete tail => null)
            val c = numCols(rng.nextInt(numCols.size))
            val out = if (st.cols.contains("rw")) "rw2" else "rw"
            if (st.cols.contains(out)) None else {
              val n = 2 + rng.nextInt(3)
              val part = if (st.cols.contains("k1") && c != "k1" && rng.nextBoolean())
                Seq("k1") else Nil
              val pw = if (part.isEmpty) "" else "PARTITION BY k1 "
              val win = s"OVER ($pw ORDER BY ${orderSql(st.order)} " +
                s"ROWS BETWEEN CURRENT ROW AND ${n - 1} FOLLOWING)"
              val sum = if (st.types(c) == 'l') s"CAST(sum($c) $win AS BIGINT)" else s"sum($c) $win"
              Some(st.copy(
                fr = Rolling.rollingN(st.fr, n, c, x => F.sum(x), out, part),
                sub = s"SELECT *, CASE WHEN count(*) $win = $n THEN $sum ELSE NULL END " +
                  s"AS $out FROM (${st.sub})",
                cols = st.cols :+ out, types = st.types + (out -> st.types(c)), base = false))
            }
          case 16 => // timestamp filter
            val tss = valueCols.filter(c => st.types(c) == 't')
            if (tss.isEmpty) None else {
              val c = tss(rng.nextInt(tss.size))
              val day = 1 + rng.nextInt(88)
              val lit = f"TIMESTAMP '2024-${1 + day / 31}%02d-${1 + day % 31 % 28}%02d 12:00:00'"
              // NTZ seeds compare NTZ-vs-NTZ (same UTC wall) — no
              // reliance on Spark's cross-flavor comparison coercion;
              // the DuckDB mirror keeps the plain literal either way
              val engLit = if (ntzTs) lit.replaceFirst("TIMESTAMP", "TIMESTAMP_NTZ") else lit
              val gt = rng.nextBoolean()
              Some(st.copy(
                fr = st.fr.filter(Map(c -> ((x: org.apache.spark.sql.Column) =>
                  if (gt) x > F.expr(engLit) else x <= F.expr(engLit)))),
                sub = s"SELECT * FROM (${st.sub}) WHERE $c IS NOT NULL AND $c ${if (gt) ">" else "<="} $lit"))
            }
          case 17 => // resample (date_trunc, incl. arbitrary week start)
            val tss = valueCols.filter(c => st.types(c) == 't')
            if (tss.isEmpty) None else {
              val c = tss(rng.nextInt(tss.size))
              val out = if (st.cols.contains("rs")) "rs2" else "rs"
              if (st.cols.contains(out)) None else {
                val days = Seq("MONDAY", "TUESDAY", "WEDNESDAY", "THURSDAY",
                  "FRIDAY", "SATURDAY", "SUNDAY")
                rng.nextInt(3) match {
                  case 0 =>
                    Some(st.copy(fr = Analytics.resample(st.fr, c, "day", out),
                      sub = s"SELECT *, date_trunc('day', $c) AS $out FROM (${st.sub})",
                      cols = st.cols :+ out, types = st.types + (out -> 't'), base = false))
                  case 1 =>
                    Some(st.copy(fr = Analytics.resample(st.fr, c, "month", out),
                      sub = s"SELECT *, date_trunc('month', $c) AS $out FROM (${st.sub})",
                      cols = st.cols :+ out, types = st.types + (out -> 't'), base = false))
                  case _ =>
                    val ws = days(rng.nextInt(7))
                    val sh = Analytics.weekStartShift(ws)
                    Some(st.copy(fr = Analytics.resample(st.fr, c, "week", out, weekStart = ws),
                      sub = s"SELECT *, date_trunc('week', $c + INTERVAL $sh DAY) - " +
                        s"INTERVAL $sh DAY AS $out FROM (${st.sub})",
                      cols = st.cols :+ out, types = st.types + (out -> 't'), base = false))
                }
              }
            }
          case 18 if st.base => // combineMath: aligned arithmetic, div0 => null
            val op = Seq("add", "subtract", "multiply", "divide")(rng.nextInt(4))
            val ign = rng.nextBoolean()
            val fr2 = Lookup.combineMath(st.fr, ingest(ta), op,
              Seq("k2"), Seq("k2"), "v1", "v1", "cm", ignoreNulls = ign)
            def cast(c: String) =
              if (ign) s"COALESCE(CAST($c AS DOUBLE), 0.0)" else s"CAST($c AS DOUBLE)"
            val (l, r) = (cast("v1"), cast("v1_1"))
            val res = op match {
              case "add" => s"($l + $r)"
              case "subtract" => s"($l - $r)"
              case "multiply" => s"($l * $r)"
              case "divide" => s"CASE WHEN $r = 0.0 THEN NULL ELSE $l / $r END"
            }
            val dedup = s"SELECT k2, v1 AS v1_1 FROM (SELECT * FROM $ta " +
              s"QUALIFY row_number() OVER (PARTITION BY k2 ORDER BY rid) = 1)"
            val joined = s"SELECT l.*, r.v1_1 FROM (${st.sub}) l LEFT JOIN ($dedup) r ON l.k2 = r.k2"
            val keep = st.cols.filterNot(_ == "v1")
            val newOrder = st.order.filterNot(_._1 == "v1")
            val (ridExpr, ord2) =
              if (newOrder.size != st.order.size)
                // dropping a SORT KEY anchors the frame order (dropCols →
                // anchorOrder): freeze the OLD order into rid, clear spec
                (s"row_number() OVER (ORDER BY ${orderSql(st.order)}) AS rid", Nil)
              else ("rid", st.order)
            Some(st.copy(
              fr = fr2,
              sub = s"SELECT ${keep.mkString(", ")}, $ridExpr, $res AS cm FROM ($joined)",
              order = ord2,
              cols = keep :+ "cm",
              types = st.types - "v1" + ("cm" -> (if (op == "divide") 'e' else 'd')),
              base = false))
          case 19 if keyCols.nonEmpty && st.labels.isEmpty => // grouped First/Last/Nth
            // this round's r13 bug family: frame-order picks per group with
            // negative-from-end and OOB⇒null, group ordinal = first
            // appearance in frame order (sorted AND unsorted chains)
            val k = keyCols(rng.nextInt(keyCols.size))
            val others = st.cols.filterNot(_ == k)
            if (others.isEmpty) None else {
              val pos = Seq(0, 1, -1, -2, 7)(rng.nextInt(5))
              val g = st.fr.groupBy(k)
              val (fr2, pfx) =
                if (pos == 0) (g.first(others: _*), "first")
                else if (pos == -1) (g.last(others: _*), "last")
                else (g.nth(pos, others: _*), "nth")
              val aggSql = others.map { c =>
                val target = if (pos >= 0) (pos + 1).toString else s"gcnt + ${pos + 1}"
                s"max(CASE WHEN gpos = $target THEN $c END) AS ${pfx}_$c"
              }.mkString(", ")
              Some(St(fr2,
                s"SELECT $k, CAST(min(pos) AS BIGINT) AS rid, $aggSql FROM " +
                  s"(SELECT *, row_number() OVER (ORDER BY ${orderSql(st.order)}) AS pos, " +
                  s"row_number() OVER (PARTITION BY $k ORDER BY ${orderSql(st.order)}) AS gpos, " +
                  s"count(*) OVER (PARTITION BY $k) AS gcnt FROM (${st.sub})) GROUP BY $k",
                Nil, k +: others.map(c => s"${pfx}_$c"),
                others.map(c => s"${pfx}_$c" -> st.types(c)).toMap + (k -> st.types(k)),
                base = false, labels = Seq(k)))
            }
          case 20 => // FilterByValue: stringified equality (internal.go:241-253)
            // long/string stringification is injective, so plain SQL
            // equality mirrors it; doubles/timestamps are engine-specific
            val cands = st.cols.filter(c => st.types(c) == 'l' || st.types(c) == 's')
            if (cands.isEmpty) None else {
              val c = cands(rng.nextInt(cands.size))
              // k2's domain is 0..4 — sample it there or every filter is empty
              val sqlLit =
                if (st.types(c) == 's') fmt('s', rng)
                else if (c == "k2") rng.nextInt(5).toString
                else fmt('l', rng)
              val v: Any = if (st.types(c) == 's') sqlLit.drop(1).dropRight(1) else sqlLit.toLong
              Some(st.copy(
                fr = st.fr.filterByValue(Map(c -> v)),
                sub = s"SELECT * FROM (${st.sub}) WHERE $c = $sqlLit"))
            }
          case 21 if st.base => // RIGHT merge: aux keeps all rows, first-match from main
            val fr2 = Lookup.merge(st.fr, ingest(ta), "right", Seq("k2"), Seq("k2"))
            val dedup = s"SELECT k2, k1 AS k1_1, v1 AS v1_1, v2 AS v2_1, ts AS ts_1 FROM " +
              s"(SELECT * FROM (${st.sub}) QUALIFY row_number() OVER " +
              s"(PARTITION BY k2 ORDER BY ${orderSql(st.order)}) = 1)"
            val sub2 = s"SELECT l.rid, l.k1, l.k2, l.v1, l.v2, l.ts, " +
              s"r.k1_1, r.v1_1, r.v2_1, r.ts_1 FROM $ta l LEFT JOIN ($dedup) r ON l.k2 = r.k2"
            Some(st.copy(fr = fr2, sub = sub2, order = Nil,
              cols = Seq("k1", "k2", "v1", "v2", "ts", "k1_1", "v1_1", "v2_1", "ts_1"),
              types = baseTypes ++ Map("k1_1" -> 's', "v1_1" -> 'l', "v2_1" -> 'd', "ts_1" -> 't'),
              base = false))
          case 22 if numCols.nonEmpty => // percentileBin (left-INCL right-EXCL — bin's opposite)
            val c = numCols(rng.nextInt(numCols.size))
            val out = if (st.cols.contains("pb")) "pb2" else "pb"
            if (st.cols.contains(out)) None else {
              val picks = Seq(0.0, 0.25, 0.5, 0.75, 1.0).filter(_ => rng.nextBoolean())
              val edges = if (picks.size >= 2) picks else Seq(0.0, 0.5, 1.0)
              val part = if (st.cols.contains("k1") && c != "k1" && rng.nextBoolean())
                Seq("k1") else Nil
              val fr2 = Analytics.percentileBin(st.fr, c, edges, out, part)
              def fm(d: Double) = if (d == d.floor) d.toLong.toString else d.toString
              val pw = if (part.isEmpty) "" else "PARTITION BY k1 "
              val pw0 = if (part.isEmpty) "OVER ()" else "OVER (PARTITION BY k1)"
              // identical double division in both engines ⇒ identical bits ⇒
              // identical edge comparisons (the dyadic edges are exact)
              val pct = s"CAST(rank() OVER (${pw}ORDER BY $c ASC NULLS FIRST) - " +
                s"(count(*) $pw0 - count($c) $pw0) - 1 AS DOUBLE) / count($c) $pw0"
              val cases = edges.sliding(2).map { case Seq(lo, hi) =>
                s"WHEN __p >= $lo AND __p < $hi THEN '${fm(lo)}-${fm(hi)}'"
              }.mkString(" ")
              Some(st.copy(
                fr = fr2,
                sub = s"SELECT ${(st.cols :+ "rid").mkString(", ")}, " +
                  s"CASE WHEN __p IS NULL THEN NULL $cases ELSE NULL END AS $out " +
                  s"FROM (SELECT *, CASE WHEN $c IS NULL THEN NULL ELSE $pct END AS __p " +
                  s"FROM (${st.sub}))",
                cols = st.cols :+ out, types = st.types + (out -> 's'), base = false))
            }
          case 23 if st.base => // pivotTable: k1 values spread to columns
            // result rows carry the reference's FIRST-APPEARANCE frame
            // order (r14 fix — fuzz seed 511 caught the re-ingested
            // arbitrary order through a later stable sort's ties); the
            // mirror is the same min(pos) group ordinal case 8 uses
            val fr2 = Reshape.pivotTable(st.fr, Seq("k2"), "k1",
              F.sum(F.col("v1")), knownValues = Seq("a", "b", "c", "d", "e"),
              prefix = "pv_")
            val cases = Seq("a", "b", "c", "d", "e").map(v =>
              s"CAST(sum(CASE WHEN k1 = '$v' THEN v1 END) AS BIGINT) AS pv_$v").mkString(", ")
            Some(St(fr2,
              s"SELECT k2, CAST(min(pos) AS BIGINT) AS rid, $cases FROM " +
                s"(SELECT *, row_number() OVER (ORDER BY ${orderSql(st.order)}) AS pos " +
                s"FROM (${st.sub})) GROUP BY k2",
              Nil,
              "k2" +: Seq("a", "b", "c", "d", "e").map(v => s"pv_$v"),
              Seq("a", "b", "c", "d", "e").map(v => s"pv_$v" -> 'l').toMap + ("k2" -> 'l'),
              base = false, labels = Seq("k2")))
          case 24 if st.cols.contains("ts") && st.types.get("ts").contains('t') =>
            // RollingDuration [t, t+d) — the off-by-one-unit edge class
            // SURVEY §2.6 warns about (groupers.go:317-345,
            // internal.go:2410-2421): the right edge is EXCLUSIVE, and
            // both engines express it as an inclusive range of d−1 µs.
            // ts rows are whole seconds with duplicates, so d in seconds
            // puts window boundaries EXACTLY ON row timestamps — the
            // worst case for an inclusive/exclusive mix-up. Null ts rows
            // are pre-dropped (cross-engine null-peer-group frames are a
            // different contract than the edge under test).
            val longs = valueCols.filter(c => st.types(c) == 'l' && c != "ts")
            val out = if (st.cols.contains("rd")) "rd2" else "rd"
            if (longs.isEmpty || st.cols.contains(out) || st.labels.nonEmpty) None else {
              val c = longs(rng.nextInt(longs.size))
              val secs = Seq(1, 2, 5, 10, 86400)(rng.nextInt(5))
              val part = if (st.cols.contains("k1") && rng.nextBoolean()) Seq("k1") else Nil
              val pw = if (part.isEmpty) "" else "PARTITION BY k1 "
              val d = secs * 1000000L
              val base = st.fr.filter(Map("ts" ->
                ((x: org.apache.spark.sql.Column) => x.isNotNull)))
              // r19 (r18 verdict item 3): the form is picked EXPLICITLY —
              // like the rank/percentile arms — so the chunked time-bucket
              // plan (q113/q116's scale form) fuzzes against DuckDB even
              // on frames whose span/keys would dispatch it elsewhere;
              // case 0 forces chunked (window fallback when the span is
              // genuinely too short — both must agree either way)
              def winForm: TadaFrame =
                if (part.isEmpty)
                  Rolling.rollingDurationWindow(base, "ts", d, c, x => F.sum(x), out)
                else Rolling.rollingDurationKeyedWindow(
                  base, "ts", d, c, x => F.sum(x), out, part)
              val fr2 = rng.nextInt(3) match {
                case 0 => Rolling.rollingDurationChunked(
                  base, "ts", d, c, x => F.sum(x), out, part)(winForm)
                case 1 => winForm
                case _ => Rolling.rollingDuration(base, "ts", d, c, x => F.sum(x), out, part)
              }
              Some(st.copy(fr = fr2,
                sub = s"SELECT *, CAST(sum($c) OVER (${pw}ORDER BY epoch_us(ts) " +
                  s"RANGE BETWEEN CURRENT ROW AND ${secs * 1000000L - 1} FOLLOWING) " +
                  s"AS BIGINT) AS $out FROM (SELECT * FROM (${st.sub}) WHERE ts IS NOT NULL)",
                cols = st.cols :+ out, types = st.types + (out -> 'l'), base = false))
            }
          case 25 if numCols.nonEmpty => // Where null-poisoning (series.go:683-703)
            // ANY inspected column null ⇒ result null, BEFORE the
            // predicate runs — not SQL ternary logic (a null compare
            // would fall to ELSE, not to NULL)
            val c = numCols(rng.nextInt(numCols.size))
            val out = if (st.cols.contains("wh")) "wh2" else "wh"
            if (st.cols.contains(out)) None else {
              val lit = fmt(st.types(c), rng)
              val extra = if (st.cols.contains("k1") && c != "k1" && rng.nextBoolean())
                Seq("k1") else Nil
              val inspected = c +: extra
              val fr2 = st.fr.where(out, inspected,
                F.col(c) > F.expr(lit), F.lit(1L), F.lit(0L))
              val poison = inspected.map(i => s"$i IS NULL").mkString(" OR ")
              Some(st.copy(fr = fr2,
                sub = s"SELECT *, CASE WHEN $poison THEN NULL " +
                  s"WHEN $c > $lit THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END " +
                  s"AS $out FROM (${st.sub})",
                cols = st.cols :+ out, types = st.types + (out -> 'l'), base = false))
            }
          case 26 if st.base => // PromoteToColLevel: FIRST v1 in frame order per cell
            // (internal.go:1435-1483) — rides the r16 pivotCore, so this
            // stage pins both the per-cell first-in-frame-order pick
            // (min_by on the cell ordinal) and the group-rep window
            // (rid mirror counts ALL rows, incl. null/excluded k1)
            val fr2 = Reshape.promoteToColLevel(st.fr, Seq("k2"), "k1", "v1",
              knownValues = Seq("a", "b", "c", "d", "e"), prefix = "pm_")
            val cells = Seq("a", "b", "c", "d", "e").map(v =>
              s"max(CASE WHEN k1 = '$v' AND cpos = 1 THEN v1 END) AS pm_$v").mkString(", ")
            Some(St(fr2,
              s"SELECT k2, CAST(min(pos) AS BIGINT) AS rid, $cells FROM " +
                s"(SELECT *, row_number() OVER (ORDER BY ${orderSql(st.order)}) AS pos, " +
                s"row_number() OVER (PARTITION BY k2, k1 ORDER BY ${orderSql(st.order)}) AS cpos " +
                s"FROM (${st.sub})) GROUP BY k2",
              Nil,
              "k2" +: Seq("a", "b", "c", "d", "e").map(v => s"pm_$v"),
              Seq("a", "b", "c", "d", "e").map(v => s"pm_$v" -> 'l').toMap + ("k2" -> 'l'),
              base = false, labels = Seq("k2")))
          case 27 if numCols.nonEmpty => // SetRows: positional in-place overwrite
            val c = numCols(rng.nextInt(numCols.size))
            val ps = Seq.fill(1 + rng.nextInt(4))(rng.nextInt(25)).distinct
            val lit = fmt(st.types(c), rng)
            val fr2 = st.fr.setRows(c, ps, F.expr(lit))
            val others = st.cols.filterNot(_ == c)
            val inList = ps.mkString(", ")
            if (st.order.exists(_._1 == c)) {
              // overwriting a SORT KEY: the engine anchors the old order
              // first (setRows' withCol branch) — freeze it into rid and
              // clear the spec, the case-5 ffill-onto-key mirror
              Some(st.copy(fr = fr2,
                sub = s"SELECT ${others.mkString(", ")}, " +
                  s"CASE WHEN rn - 1 IN ($inList) THEN $lit ELSE $c END AS $c, rn AS rid " +
                  s"FROM (SELECT *, row_number() OVER (ORDER BY ${orderSql(st.order)}) AS rn " +
                  s"FROM (${st.sub}))",
                order = Nil))
            } else {
              Some(st.copy(fr = fr2,
                sub = s"SELECT ${(others :+ "rid").mkString(", ")}, " +
                  s"CASE WHEN rn - 1 IN ($inList) THEN $lit ELSE $c END AS $c " +
                  s"FROM (SELECT *, row_number() OVER (ORDER BY ${orderSql(st.order)}) AS rn " +
                  s"FROM (${st.sub}))"))
            }
          case _ => None
        }
      }

      val nOps = 2 + rng.nextInt(4)
      var applied = 0
      var tries = 0
      Dispatch.drain() // attribute notes to this seed's steps only
      while (applied < nOps && tries < 40) {
        val preOrder = st.order
        step().foreach { s2 =>
          st = s2; applied += 1
          val forms = Dispatch.drain()
          // an NTZ chunk axis was really exercised when a PREFIX op
          // chunked while ts led the sort spec (the chunk axis is the
          // first sort key), or rollingDuration chunked (its axis is ts)
          if (ntzTs && forms.exists { case (op, form) =>
            form.contains("hunked") &&
              (op == "rollingDuration" || preOrder.headOption.exists(_._1 == "ts"))
          }) seedSawNtzChunk = true
        }
        tries += 1
      }
      if (seedSawNtzChunk) ntzChunkedSeeds += 1

      val name = f"f$seed%04d"
      st.fr.out.repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      oracle(name) = s"SELECT ${st.cols.mkString(", ")} FROM (${st.sub})"
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

    val pb = new ProcessBuilder("python3", "tools/fuzzcheck.py", outDir, tablesDir)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val log = new String(p.getInputStream.readAllBytes())
    val exit = p.waitFor()
    print(log)
    // sweep-level NTZ engagement gate: on a big sweep, zero NTZ seeds
    // reaching a chunked dispatch means the type axis regressed to the
    // r19 silent-fallback shape — fail even if every hash matched
    println(s"[fuzz] ntz seeds=$ntzSeeds chunk-dispatched=$ntzChunkedSeeds")
    if (exit == 0 && ntzSeeds >= 30 && ntzChunkedSeeds == 0) (2, seeds.size)
    else (exit, seeds.size)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 100
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val start = if (args.length > 1) args(1).toInt else 1
    val (exit, ran) = run(spark, start until (start + n), "/tmp/fuzzdiff")
    println(s"[fuzz] $ran seeds, checker exit $exit")
    spark.stop()
    if (exit != 0) sys.exit(exit)
  }
}
