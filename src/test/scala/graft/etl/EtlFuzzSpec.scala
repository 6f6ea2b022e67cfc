package graft.etl

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzzing of the ETL compiler (Transform → ZedExpr parse →
  * Catalyst plan): randomly generated rule sets (stateless + denorm, random
  * predicates / record constructions rendered to the actual expression
  * STRINGS, so the parser is fuzzed too) run through [[Compiler]] on Spark
  * and through an independent collection-based interpreter of the
  * documented semantics (anti-join, first-match routing, inner join, dense
  * per-topic renumbering). Outputs must match as multisets, and a second
  * run with the emitted done-set folded in must emit nothing (exactly-once
  * idempotency).
  *
  * Generation is deterministic (seeded, the CodecPropertySpec pattern — no
  * scalatestplus bridge in the build), ≥100 programs per run.
  */
class EtlFuzzSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  // ------------------------------------------------------------ input data

  private val topics = Seq("t0", "t1", "t2")
  private val ops = Seq("c", "r", "u", "d")
  private val names = Seq("ann", "bob", "cyd", "dee")

  /** One input envelope row, as a nested map the interpreter evaluates
    * directly and the builder turns into a Spark Row.
    */
  type RowMap = Map[String, Any]

  private val inputSchema = StructType(Seq(
    StructField("kafka", StructType(Seq(
      StructField("topic", StringType), StructField("partition", LongType),
      StructField("offset", LongType)))),
    StructField("key", StructType(Seq(StructField("id", LongType)))),
    StructField("value", StructType(Seq(
      StructField("op", StringType), StructField("id", LongType),
      StructField("amount", LongType), StructField("name", StringType))))))

  private def genRows(seed: Seed): (Seq[RowMap], Seq[(String, Long)]) = {
    val g = for {
      perTopic <- Gen.sequence[Seq[Seq[RowMap]], Seq[RowMap]](topics.map { t =>
        for {
          n <- Gen.choose(2, 8)
          offs <- Gen.pick(n, 0 until 40)
          // value.id and key.id each distinct WITHIN a topic so every
          // denorm join is at most 1:1 per pair of topics — ties in the
          // renumbering window would otherwise make row_number output
          // genuinely nondeterministic (same (left-kafka) sort key twice)
          vids <- Gen.pick(n, 0 until 12)
          kids <- Gen.pick(n, 0 until 12)
          rows <- Gen.sequence[Seq[RowMap], RowMap]((0 until n).map { i =>
            for {
              op <- Gen.oneOf(ops)
              amount <- Gen.choose(-50L, 200L)
              name <- Gen.oneOf(names)
            } yield Map(
              "kafka" -> Map("topic" -> t, "partition" -> 0L,
                "offset" -> offs(i).toLong),
              "key" -> Map("id" -> kids(i).toLong),
              "value" -> Map("op" -> op, "id" -> vids(i).toLong,
                "amount" -> amount, "name" -> name))
          })
        } yield rows
      })
      all = perTopic.flatten
      doneFrac <- Gen.choose(0, 3)
      done <- Gen.pick(math.min(doneFrac, all.size), all)
    } yield (all, done.map(r => kafkaOf(r)).toSeq)
    g(Gen.Parameters.default, seed).getOrElse(sys.error("row gen failed"))
  }

  private def kafkaOf(r: RowMap): (String, Long) = {
    val k = r("kafka").asInstanceOf[RowMap]
    (k("topic").asInstanceOf[String], k("offset").asInstanceOf[Long])
  }

  /** A committed input row back as the interpreter's nested map. */
  private def rowMapOf(r: Row): RowMap = {
    val k = r.getAs[Row]("kafka")
    val v = r.getAs[Row]("value")
    Map(
      "kafka" -> Map("topic" -> k.getAs[String]("topic"),
        "partition" -> k.getAs[Long]("partition"), "offset" -> k.getAs[Long]("offset")),
      "key" -> Map("id" -> r.getAs[Row]("key").getAs[Long]("id")),
      "value" -> Map("op" -> v.getAs[String]("op"), "id" -> v.getAs[Long]("id"),
        "amount" -> v.getAs[Long]("amount"), "name" -> v.getAs[String]("name")))
  }

  private def toSparkRows(rows: Seq[RowMap]): DataFrame = {
    val data = rows.map { r =>
      val k = r("kafka").asInstanceOf[RowMap]
      val key = r("key").asInstanceOf[RowMap]
      val v = r("value").asInstanceOf[RowMap]
      Row(Row(k("topic"), k("partition"), k("offset")), Row(key("id")),
        Row(v("op"), v("id"), v("amount"), v("name")))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), inputSchema)
  }

  // ------------------------------------------ expression generator + eval

  /** A generated expression: its rendered Zed-ish source, an equivalent
    * DuckDB SQL rendering (row aliases as `%IN%`/`%ROW%`/`%LEFT%`/`%RIGHT%`
    * placeholders, substituted when the full program SQL is assembled), and
    * an interpreter. Paths resolve against an environment of nested maps.
    * Record-valued expressions additionally expose their per-field parts
    * (`fields`) so the SQL assembly can flatten them to scalar columns.
    */
  private case class FExpr(src: String, sql: String, eval: RowMap => Any,
      fields: Option[Seq[(String, FExpr)]] = None)

  private def resolve(env: RowMap, path: Seq[String]): Any =
    path.foldLeft(env: Any) {
      case (m: Map[_, _], p) => m.asInstanceOf[RowMap].getOrElse(p, null)
      case (null, _) => null
      case (other, p) => sys.error(s"cannot descend into $other at $p")
    }

  /** Long-valued paths relative to one input row. */
  private val longPaths = Seq(
    Seq("value", "amount"), Seq("value", "id"), Seq("key", "id"),
    Seq("kafka", "offset"))
  private val strPaths = Seq(Seq("value", "op"), Seq("value", "name"))

  private def pathExpr(prefix: Seq[String], p: Seq[String]): FExpr = {
    val alias = "%" + prefix.headOption.getOrElse("row").toUpperCase + "%"
    FExpr((prefix ++ p).mkString("."),
      (alias +: p.map(f => "\"" + f + "\"")).mkString("."),
      env => resolve(env, prefix ++ p))
  }

  private def genLong(prefix: Seq[String], depth: Int): Gen[FExpr] = {
    val leaf = Gen.oneOf(
      Gen.oneOf(longPaths).map(p => pathExpr(prefix, p)),
      Gen.choose(-9L, 99L).map(n => FExpr(n.toString, n.toString, _ => n)))
    if (depth <= 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> (for {
        op <- Gen.oneOf("+", "-", "*")
        l <- genLong(prefix, depth - 1)
        r <- genLong(prefix, depth - 1)
      } yield FExpr(s"(${l.src} $op ${r.src})", s"(${l.sql} $op ${r.sql})", { env =>
        val (a, b) = (l.eval(env).asInstanceOf[Long], r.eval(env).asInstanceOf[Long])
        op match { case "+" => a + b case "-" => a - b case "*" => a * b }
      })))
  }

  private def genStr(prefix: Seq[String]): Gen[FExpr] = Gen.oneOf(
    Gen.oneOf(strPaths).map(p => pathExpr(prefix, p)),
    Gen.oneOf(ops ++ names).map(s => FExpr(s""""$s"""", s"'$s'", _ => s)))

  private def genBool(prefix: Seq[String], depth: Int): Gen[FExpr] = {
    def sqlCmp(op: String) = op match {
      case "==" => "=" case "!=" => "<>" case other => other
    }
    val cmpLong = for {
      op <- Gen.oneOf("==", "!=", "<", "<=", ">", ">=")
      l <- genLong(prefix, 1)
      r <- genLong(prefix, 1)
    } yield FExpr(s"${l.src} $op ${r.src}",
      s"${l.sql} ${sqlCmp(op)} ${r.sql}", { env =>
      val (a, b) = (l.eval(env).asInstanceOf[Long], r.eval(env).asInstanceOf[Long])
      op match {
        case "==" => a == b case "!=" => a != b case "<" => a < b
        case "<=" => a <= b case ">" => a > b case ">=" => a >= b
      }
    })
    val cmpStr = for {
      op <- Gen.oneOf("==", "!=")
      l <- Gen.oneOf(strPaths).map(p => pathExpr(prefix, p))
      r <- Gen.oneOf(ops ++ names)
    } yield FExpr(s"""${l.src} $op "$r"""",
      s"${l.sql} ${sqlCmp(op)} '$r'", { env =>
      val a = l.eval(env).asInstanceOf[String]
      if (op == "==") a == r else a != r
    })
    val inList = for {
      l <- Gen.oneOf(strPaths).map(p => pathExpr(prefix, p))
      items <- Gen.nonEmptyListOf(Gen.oneOf(ops ++ names)).map(_.distinct)
    } yield FExpr(
      s"""${l.src} in [${items.map(s => s""""$s"""").mkString(", ")}]""",
      s"${l.sql} IN (${items.map(s => s"'$s'").mkString(", ")})",
      env => items.contains(l.eval(env).asInstanceOf[String]))
    val leaf = Gen.oneOf(cmpLong, cmpStr, inList)
    if (depth <= 0) leaf
    else Gen.frequency(
      4 -> leaf,
      1 -> (for { l <- genBool(prefix, depth - 1); r <- genBool(prefix, depth - 1) }
        yield FExpr(s"(${l.src} and ${r.src})", s"(${l.sql} AND ${r.sql})",
          env => l.eval(env).asInstanceOf[Boolean] && r.eval(env).asInstanceOf[Boolean])),
      1 -> (for { l <- genBool(prefix, depth - 1); r <- genBool(prefix, depth - 1) }
        yield FExpr(s"(${l.src} or ${r.src})", s"(${l.sql} OR ${r.sql})",
          env => l.eval(env).asInstanceOf[Boolean] || r.eval(env).asInstanceOf[Boolean])),
      1 -> genBool(prefix, depth - 1).map(e =>
        FExpr(s"not (${e.src})", s"NOT (${e.sql})",
          env => !e.eval(env).asInstanceOf[Boolean])))
  }

  /** Typed null of a path's static type — the delete-tombstone construct
    * (ref invoices.yaml:72-80: `value: cast(null, typeof(in.value.before))`).
    */
  private def typedNull(prefix: Seq[String], p: Seq[String], sqlType: String): FExpr =
    FExpr(s"cast(null, typeof(${(prefix ++ p).mkString(".")}))",
      s"CAST(NULL AS $sqlType)", _ => null)

  /** Inline const-map lookup (ref demo/etl.zed:1-18: `customerIDs[...]`). */
  private def genMapLookup(prefix: Seq[String]): Gen[FExpr] = for {
    keys <- Gen.someOf(names ++ ops).suchThat(_.nonEmpty)
    vals <- Gen.sequence[Seq[Long], Long](keys.map(_ => Gen.choose(0L, 99L)))
    keyE <- genStr(prefix)
  } yield {
    val entries = keys.toSeq.zip(vals)
    FExpr(
      entries.map { case (k, v) => s""""$k": $v""" }
        .mkString("|{ ", ", ", " }|") + s"[${keyE.src}]",
      s"CASE ${keyE.sql} " + entries.map { case (k, v) => s"WHEN '$k' THEN $v" }
        .mkString(" ") + " ELSE NULL END",
      env => entries.toMap.get(keyE.eval(env).asInstanceOf[String])
        .map(Long.box).orNull)
  }

  /** The out-record construction: typed field pool so heterogeneous rule
    * outputs always fuse under unionByName (same name ⇒ same type). `r1` is
    * a flat sub-record, `r2` a two-level nested record (the invoices.yaml
    * `{ key: {...}, value: {...} }` shape), `m1` a const-map lookup, and
    * `z1`/`z2` typed-null tombstone fields.
    */
  private def genOutRecord(prefix: Seq[String]): Gen[FExpr] = {
    val fieldGens: Seq[(String, Gen[FExpr])] = Seq(
      "n1" -> genLong(prefix, 2), "n2" -> genLong(prefix, 1),
      "s1" -> genStr(prefix), "s2" -> genStr(prefix),
      "b1" -> genBool(prefix, 1),
      "z1" -> Gen.const(typedNull(prefix, Seq("value", "amount"), "BIGINT")),
      "z2" -> Gen.const(typedNull(prefix, Seq("value", "name"), "VARCHAR")),
      "m1" -> genMapLookup(prefix),
      "r1" -> (for { x <- genLong(prefix, 1); y <- genStr(prefix) }
        yield FExpr(s"{ x: ${x.src}, y: ${y.src} }", "",
          env => Map("x" -> x.eval(env), "y" -> y.eval(env)),
          fields = Some(Seq("x" -> x, "y" -> y)))),
      "r2" -> (for { a <- genLong(prefix, 1); u <- genLong(prefix, 0); v <- genStr(prefix) }
        yield {
          val inner = FExpr(s"{ u: ${u.src}, v: ${v.src} }", "",
            env => Map("u" -> u.eval(env), "v" -> v.eval(env)),
            fields = Some(Seq("u" -> u, "v" -> v)))
          FExpr(s"{ a: ${a.src}, d: ${inner.src} }", "",
            env => Map("a" -> a.eval(env), "d" -> inner.eval(env)),
            fields = Some(Seq("a" -> a, "d" -> inner)))
        }))
    for {
      picked <- Gen.someOf(fieldGens).suchThat(_.nonEmpty)
      exprs <- Gen.sequence[Seq[FExpr], FExpr](picked.map(_._2))
    } yield {
      val fields = picked.map(_._1).zip(exprs)
      FExpr(
        fields.map { case (n, e) => s"$n: ${e.src}" }.mkString("{ ", ", ", " }"),
        "",
        env => fields.map { case (n, e) => n -> e.eval(env) }.toMap,
        fields = Some(fields.toSeq))
    }
  }

  /** A delete-tombstone out-record: typed nulls for the data fields plus the
    * key id (ref invoices.yaml:72-80). Field names come from the shared
    * typed pool so tombstone rules fuse with data rules under unionByName.
    */
  private def genTombstoneRecord(prefix: Seq[String]): Gen[FExpr] = Gen.const {
    val fields = Seq(
      "n1" -> typedNull(prefix, Seq("value", "amount"), "BIGINT"),
      "s1" -> typedNull(prefix, Seq("value", "name"), "VARCHAR"),
      "n2" -> pathExpr(prefix, Seq("key", "id")))
    FExpr(
      fields.map { case (n, e) => s"$n: ${e.src}" }.mkString("{ ", ", ", " }"),
      "",
      env => fields.map { case (n, e) => n -> e.eval(env) }.toMap,
      fields = Some(fields))
  }

  // ------------------------------------------------------- rule generator

  private case class FRule(rule: Rule, where: Option[FExpr], out: FExpr)

  private def genRule: Gen[FRule] = Gen.frequency(
    3 -> (for { // stateless
      in <- Gen.oneOf(topics)
      outTopic <- Gen.oneOf("o0", "o1")
      whereOpt <- Gen.option(genBool(Nil, 2))
      outRec <- genOutRecord(Seq("in"))
    } yield FRule(
      Rule("stateless", whereOpt.map(_.src).getOrElse(""), in, "", "", "",
        outTopic, s"out := ${outRec.src}"),
      whereOpt, outRec)),
    3 -> (for { // denorm
      lr <- Gen.pick(2, topics)
      outTopic <- Gen.oneOf("o0", "o1")
      whereOpt <- Gen.option(genBool(Nil, 1))
      lKey <- Gen.oneOf(Seq("value", "id"), Seq("key", "id"))
      rKey <- Gen.oneOf(Seq("value", "id"), Seq("key", "id"))
      outRec <- genOutRecord(Seq("left"))
    } yield FRule(
      Rule("denorm", whereOpt.map(_.src).getOrElse(""), "", lr(0), lr(1),
        s"left.${lKey.mkString(".")} = right.${rKey.mkString(".")}",
        outTopic, s"out := ${outRec.src}"),
      whereOpt, outRec)),
    2 -> (for { // delete tombstone (ref invoices.yaml:72-80)
      in <- Gen.oneOf(topics)
      outTopic <- Gen.oneOf("o0", "o1")
      outRec <- genTombstoneRecord(Seq("in"))
    } yield {
      val opPath = pathExpr(Nil, Seq("value", "op"))
      val whereE = FExpr(s"""${opPath.src} == "d"""", s"${opPath.sql} = 'd'",
        env => opPath.eval(env) == "d")
      FRule(
        Rule("stateless", whereE.src, in, "", "", "",
          outTopic, s"out := ${outRec.src}"),
        Some(whereE), outRec)
    }))

  private case class FProgram(transform: Transform, rules: Seq[FRule],
      baseOffsets: Map[String, Long])

  private def genProgram(seed: Seed): FProgram = {
    val g = for {
      n <- Gen.choose(1, 3)
      rules <- Gen.listOfN(n, genRule)
      b0 <- Gen.choose(0L, 100L)
      b1 <- Gen.choose(0L, 100L)
    } yield FProgram(
      Transform(topics.map(t => TopicPool(t, "rawpool")),
        Seq(TopicPool("o0", "stagepool")), rules.map(_.rule)),
      rules, Map("o0" -> b0, "o1" -> b1))
    g(Gen.Parameters.default, seed).getOrElse(sys.error("program gen failed"))
  }

  // ------------------------------------------------- reference interpreter

  /** First-match routing: the index of the first rule `r` matches, or -1. */
  private def ruleFor(prog: FProgram, r: RowMap): Int = prog.rules.indexWhere { fr =>
    val whereOk = fr.where.forall(_.eval(r).asInstanceOf[Boolean])
    fr.rule.ruleType match {
      case "stateless" =>
        whereOk && r("kafka").asInstanceOf[RowMap]("topic") == fr.rule.in
      case "denorm" => whereOk
    }
  }

  /** Whether the rule `r` routes to consumes it: a stateless rule, or a
    * denorm rule reading `r`'s topic. `unmatched` answers for a row no
    * rule of `prog` matches.
    */
  private def consumed(prog: FProgram, unmatched: Boolean)(r: RowMap): Boolean =
    ruleFor(prog, r) match {
      case -1 => unmatched
      case i =>
        val rule = prog.rules(i).rule
        val t = kafkaOf(r)._1
        rule.ruleType == "stateless" || rule.left == t || rule.right == t
    }

  /** Straight-line implementation of the documented ETL semantics over
    * plain collections — the oracle the Catalyst plan must match.
    */
  private def interpret(prog: FProgram, rows: Seq[RowMap],
      done: Set[(String, Long)]): Seq[RowMap] = {
    val undone = rows.filter(r => !done(kafkaOf(r)))
    val routed = undone.map(r => (r, ruleFor(prog, r)))
    // (out-map, in-kafka, out-topic) data rows + done kafkas per rule
    val parts = prog.rules.zipWithIndex.map { case (fr, i) =>
      val matched = routed.collect { case (r, ri) if ri == i => r }
      fr.rule.ruleType match {
        case "stateless" =>
          val data = matched.map { r =>
            (fr.out.eval(Map("in" -> r)).asInstanceOf[RowMap], kafkaOf(r),
              fr.rule.out)
          }
          (data, matched.map(r => (kafkaOf(r), fr.rule.out)))
        case "denorm" =>
          val Array(lp, rp) = fr.rule.joinOn.split("=").map(_.trim.split('.').toSeq)
          val lrows = matched.filter(r =>
            r("kafka").asInstanceOf[RowMap]("topic") == fr.rule.left)
          val rrows = matched.filter(r =>
            r("kafka").asInstanceOf[RowMap]("topic") == fr.rule.right)
          val joined = for {
            l <- lrows; r <- rrows
            if resolve(Map("left" -> l), lp) == resolve(Map("right" -> r), rp)
          } yield (l, r)
          val data = joined.map { case (l, r) =>
            (fr.out.eval(Map("left" -> l, "right" -> r)).asInstanceOf[RowMap],
              kafkaOf(l), fr.rule.out)
          }
          (data, joined.flatMap { case (l, r) =>
            Seq((kafkaOf(l), fr.rule.out), (kafkaOf(r), fr.rule.out)) })
      }
    }
    val allData = parts.flatMap(_._1)
    val allDone = parts.flatMap(_._2)
    val fieldUnion = prog.rules
      .flatMap(_.out.eval(Map("in" -> sampleRow, "left" -> sampleRow,
        "right" -> sampleRow)).asInstanceOf[RowMap].keys).distinct
    // dense renumbering per out topic in (in-offset, in-topic) order
    val renumbered = allData.groupBy(_._3).toSeq.flatMap { case (ot, group) =>
      val base = prog.baseOffsets.getOrElse(ot, 0L)
      group.sortBy { case (_, (t, o), _) => (o, t) }.zipWithIndex.map {
        case ((out, _, _), i) =>
          fieldUnion.map(f => f -> out.getOrElse(f, null)).toMap ++ Map(
            "kafka" -> Map("topic" -> ot, "offset" -> (base + i)),
            "_type" -> null, "_outtopic" -> ot)
      }
    }
    val doneOut = allDone.map { case ((t, o), ot) =>
      fieldUnion.map(f => f -> (null: Any)).toMap ++ Map(
        "kafka" -> Map("topic" -> t, "offset" -> o),
        "_type" -> "done", "_outtopic" -> ot)
    }
    renumbered ++ doneOut
  }

  /** Any well-formed row works for discovering a rule's output field set
    * (field names don't depend on values).
    */
  private val sampleRow: RowMap = Map(
    "kafka" -> Map("topic" -> "t0", "partition" -> 0L, "offset" -> 0L),
    "key" -> Map("id" -> 0L),
    "value" -> Map("op" -> "c", "id" -> 0L, "amount" -> 0L, "name" -> "ann"))

  // --------------------------------------------------------- canonicalizer

  private def canonSpark(v: Any): Any = v match {
    case r: Row =>
      r.schema.fieldNames.sorted.toList.map(n => n -> canonSpark(r.getAs[Any](n)))
    case other => other
  }

  private def canonMap(v: Any): Any = v match {
    case m: Map[_, _] =>
      m.asInstanceOf[RowMap].toList.sortBy(_._1).map { case (k, x) => k -> canonMap(x) }
    case other => other
  }

  // ------------------------------------------ DuckDB SQL rendering (authority)

  /** Flat (scalar) output columns of one rule's out-record: record-valued
    * fields explode recursively (`r1` → `r1_x`/`r1_y`, `r2` → `r2_a`/
    * `r2_d_u`/`r2_d_v`) so the dumped table has no struct columns. Field
    * names in the pool carry no underscores, so `_` unambiguously encodes
    * nesting.
    */
  private def flatOf(out: FExpr): Seq[(String, String)] = {
    def rec(name: String, e: FExpr): Seq[(String, String)] = e.fields match {
      case Some(fs) => fs.flatMap { case (n, fe) => rec(s"${name}_$n", fe) }
      case None => Seq(name -> e.sql)
    }
    out.fields.get.flatMap { case (n, e) => rec(n, e) }
  }

  private val flatType = Map(
    "n1" -> "BIGINT", "n2" -> "BIGINT", "z1" -> "BIGINT", "m1" -> "BIGINT",
    "s1" -> "VARCHAR", "s2" -> "VARCHAR", "z2" -> "VARCHAR", "b1" -> "BOOLEAN",
    "r1_x" -> "BIGINT", "r1_y" -> "VARCHAR",
    "r2_a" -> "BIGINT", "r2_d_u" -> "BIGINT", "r2_d_v" -> "VARCHAR")

  private def qpath(alias: String, p: Seq[String]): String =
    (alias +: p.map(f => "\"" + f + "\"")).mkString(".")

  /** Render the ENTIRE generated program to one DuckDB SQL statement over
    * the dumped parquet inputs — anti-join against the done set,
    * first-match routing, stateless/denorm rules, per-out-topic dense
    * renumbering, done markers. This is the third independent rendering of
    * the documented semantics (Catalyst plan, Scala interpreter, SQL), so
    * the fuzzer and the correctness gates share one oracle authority
    * (DuckDB) via tools/check_etl_fuzz_duckdb.py.
    */
  private def sqlFor(prog: FProgram, inPath: String, donePath: String): String = {
    val flats = prog.rules.flatMap(r => flatOf(r.out).map(_._1)).distinct.sorted
    def sub(sql: String, m: (String, String)*): String =
      m.foldLeft(sql) { case (s, (k, v)) => s.replace(k, v) }
    val matchConds = prog.rules.map { fr =>
      val w = fr.where.map(e => sub(e.sql, "%ROW%" -> "u"))
      fr.rule.ruleType match {
        case "stateless" =>
          (w.toSeq :+ s"u.kafka.topic = '${fr.rule.in}'").mkString("(", " AND ", ")")
        case "denorm" => w.getOrElse("TRUE")
      }
    }
    val caseExpr = matchConds.zipWithIndex
      .map { case (c, i) => s"WHEN $c THEN $i" }
      .mkString("CASE ", " ", " ELSE -1 END")
    def selectList(fl: Map[String, String], subs: Seq[(String, String)]): String =
      flats.map { f =>
        fl.get(f).map(sql => s"${sub(sql, subs: _*)} AS $f")
          .getOrElse(s"CAST(NULL AS ${flatType(f)}) AS $f")
      }.mkString(", ")
    def denormJoin(fr: FRule, i: Int): String = {
      val Array(lp, rp) = fr.rule.joinOn.split("=").map(_.trim.split('.').toSeq)
      s"""FROM routed l JOIN routed r
         |  ON l.rule_idx = $i AND r.rule_idx = $i
         | AND l.kafka.topic = '${fr.rule.left}' AND r.kafka.topic = '${fr.rule.right}'
         | AND ${qpath("l", lp.tail)} = ${qpath("r", rp.tail)}""".stripMargin
    }
    val dataSelects = prog.rules.zipWithIndex.map { case (fr, i) =>
      fr.rule.ruleType match {
        case "stateless" =>
          s"""SELECT ${selectList(flatOf(fr.out).toMap, Seq("%IN%" -> "i"))},
             |       i.kafka.topic AS in_t, i.kafka."offset" AS in_o,
             |       '${fr.rule.out}' AS out_topic
             |FROM routed i WHERE i.rule_idx = $i""".stripMargin
        case "denorm" =>
          s"""SELECT ${selectList(flatOf(fr.out).toMap,
                Seq("%LEFT%" -> "l", "%RIGHT%" -> "r"))},
             |       l.kafka.topic AS in_t, l.kafka."offset" AS in_o,
             |       '${fr.rule.out}' AS out_topic
             |${denormJoin(fr, i)}""".stripMargin
      }
    }
    val doneSelects = prog.rules.zipWithIndex.flatMap { case (fr, i) =>
      fr.rule.ruleType match {
        case "stateless" => Seq(
          s"""SELECT i.kafka.topic AS t, i.kafka."offset" AS o, '${fr.rule.out}' AS ot
             |FROM routed i WHERE i.rule_idx = $i""".stripMargin)
        case "denorm" => Seq("l", "r").map(side =>
          s"""SELECT $side.kafka.topic AS t, $side.kafka."offset" AS o, '${fr.rule.out}' AS ot
             |${denormJoin(fr, i)}""".stripMargin)
      }
    }
    val nullFlats = flats
      .map(f => s"CAST(NULL AS ${flatType(f)}) AS $f").mkString(", ")
    s"""WITH undone AS (
       |  SELECT i.* FROM read_parquet('$inPath/*.parquet') i
       |  WHERE NOT EXISTS (SELECT 1 FROM read_parquet('$donePath/*.parquet') d
       |                    WHERE d.topic = i.kafka.topic
       |                      AND d."offset" = i.kafka."offset")
       |),
       |routed AS (SELECT u.*, $caseExpr AS rule_idx FROM undone u),
       |alldata AS (
       |${dataSelects.mkString("\nUNION ALL\n")}
       |),
       |renum AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY out_topic
       |              ORDER BY in_o, in_t) - 1
       |            + CASE out_topic WHEN 'o0' THEN ${prog.baseOffsets("o0")}
       |                             ELSE ${prog.baseOffsets("o1")} END
       |            AS BIGINT) AS new_off
       |  FROM alldata
       |),
       |dones AS (
       |${doneSelects.mkString("\nUNION ALL\n")}
       |)
       |SELECT ${flats.mkString(", ")}${if (flats.isEmpty) "" else ","}
       |       CAST(NULL AS VARCHAR) AS _type, out_topic AS _outtopic,
       |       out_topic AS topic, new_off AS "offset" FROM renum
       |UNION ALL
       |SELECT $nullFlats${if (flats.isEmpty) "" else ","}
       |       'done' AS _type, ot AS _outtopic,
       |       t AS topic, CAST(o AS BIGINT) AS "offset" FROM dones""".stripMargin
  }

  /** Flatten the compiled program's output to the dump's scalar columns. */
  private def flattenGot(df: DataFrame, flats: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = flats.map {
      case f if f.contains('_') => col(f.replace('_', '.')).as(f)
      case f => col(f)
    } ++ Seq(col("kafka.topic").as("topic"), col("kafka.offset").as("offset"),
      col("_type"), col("_outtopic"))
    df.select(cols: _*)
  }

  /** Two input phases over `rows` with each topic's offsets renumbered
    * densely from 0 in offset order: the low half of every topic first
    * (`lowFirst`), or the high half first.
    */
  private def densePhases(rows: Seq[RowMap],
      lowFirst: Boolean): (Seq[RowMap], Seq[RowMap]) = {
    val ranked = rows.groupBy(r => kafkaOf(r)._1).values.flatMap { rs =>
      rs.sortBy(r => kafkaOf(r)._2).zipWithIndex.map { case (r, i) =>
        val k = r("kafka").asInstanceOf[RowMap]
        (r + ("kafka" -> (k + ("offset" -> i.toLong))), i < rs.size / 2)
      }
    }.toSeq
    val (low, high) = ranked.partition(_._2)
    if (lowFirst) (low.map(_._1), high.map(_._1)) else (high.map(_._1), low.map(_._1))
  }

  /** Resolved-cursor oracle: for every output pool's persisted (cursor,
    * base) of a topic, every committed input row of that topic in
    * `[base, cursor]` is done (a committed done row of ANY output pool) or
    * not `consumed`. Returns (cursors checked, of which past their base).
    */
  private def checkResolved(root: String, digest: String, pools: Seq[String],
      label: String, consumed: RowMap => Boolean): (Int, Int) = {
    val done = doneIn(root, pools)
    val input = graft.lake.Pool.open(spark, root, "rawpool").read().collect().map(rowMapOf)
    val cursors = pools.flatMap(pn =>
      graft.lake.Pool.open(spark, root, pn).readCursors(digest).toSeq.map(pn -> _))
    cursors.foreach { case (pn, (t, (c, base))) =>
      input.filter { r =>
        val (rt, o) = kafkaOf(r)
        rt == t && o >= base && o <= c
      }.foreach { r =>
        assert(done(kafkaOf(r)) || !consumed(r), s"$label: $pn cursor for $t is $c " +
          s"from base $base, but ${kafkaOf(r)} is consumed and not done")
      }
    }
    (cursors.size, cursors.count { case (_, (_, (c, base))) => c >= base })
  }

  /** Runs `p` under the exact cursor oracle: from the input, the done rows
    * and the trusted cursors before the run, and the interpreter's
    * first-match routing, the cursors the run must persist. Per input
    * topic `t`, over the rows of `t` the run scans (above its trusted
    * cursor, or all): the smallest offset not yet done whose first match
    * is a denorm rule reading `t`, minus one; else the largest offset
    * scanned; else no change. A run that moves a cursor writes the trusted
    * cursors plus the moved ones to every output pool; one that moves none
    * leaves every pool's cursors as they were. Returns the records the
    * run wrote and the cursors it resolved.
    */
  private def runUnderCursorOracle(p: Pipeline, root: String, digest: String,
      pools: Seq[String], prog: FProgram, label: String): (Long, Int) = {
    def persisted(pn: String) = graft.lake.Pool.open(spark, root, pn).readCursors(digest)
    val trusted = p.plan().get.trusted
    val before = pools.map(pn => pn -> persisted(pn)).toMap
    val done = doneIn(root, pools)
    val input = graft.lake.Pool.open(spark, root, "rawpool").read().collect()
      .map(r => kafkaOf(rowMapOf(r)) -> rowMapOf(r)).toSeq
    val resolved = topics.flatMap { t =>
      val scanned = input.filter { case ((rt, o), _) =>
        rt == t && trusted.get(t).forall { case (c, _) => o > c }
      }
      val waiting = scanned.collect { case (k, r) if !done(k) && (ruleFor(prog, r) match {
        case -1 => false
        case i =>
          val rule = prog.rules(i).rule
          rule.ruleType == "denorm" && (rule.left == t || rule.right == t)
      }) => k._2 }
      val cursor = if (waiting.nonEmpty) Some(waiting.min - 1L)
        else scanned.map(_._1._2).maxOption
      cursor.map(c => t -> (c, trusted.get(t).map(_._2)
        .getOrElse(input.collect { case ((rt, o), _) if rt == t => o }.min)))
    }.toMap
    val moved = resolved.filter { case (t, (c, _)) => !trusted.get(t).exists(_._1 == c) }
    val n = p.run()
    pools.foreach { pn =>
      val want = if (moved.isEmpty) before(pn) else trusted ++ moved
      assert(persisted(pn) == want, s"$label: $pn persisted ${persisted(pn)}, the oracle " +
        s"wants $want (trusted before the run: $trusted)")
    }
    (n, resolved.size)
  }

  /** The committed done (topic, offset) pairs of `pools`. */
  private def doneIn(root: String, pools: Seq[String]): Set[(String, Long)] = {
    import org.apache.spark.sql.functions.col
    pools.flatMap { pn =>
      val df = graft.lake.Pool.open(spark, root, pn).read()
      if (!df.columns.contains("_type")) Seq.empty
      else df.filter(col("_type") === "done")
        .select(col("kafka.topic"), col("kafka.offset")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    }.toSet
  }

  /** A second phase plans with a trusted cursor for every input topic when
    * it lands above the first phase (`contiguous`; then returns true), and
    * with none when it lands below the anchor.
    */
  private def secondPhasePlansCursors(p: Pipeline, contiguous: Boolean,
      label: String): Boolean = {
    val cursorTopics = p.plan().get.cursors.keySet
    if (contiguous) assert(cursorTopics == topics.toSet,
      s"$label: phase 2 plans cursors for $cursorTopics only")
    else assert(cursorTopics.isEmpty,
      s"$label: phase 2 arrived below the anchor, yet $cursorTopics stay trusted")
    contiguous
  }

  // ---------------------------------------------------------------- tests

  test("120 random ETL programs: Catalyst plan == reference interpreter, then idempotent") {
    var checkedRows = 0L
    for (caseNo <- 0 until 120) {
      val seed = Seed(1000L + caseNo)
      val (rows, doneSeq) = genRows(seed)
      val prog = genProgram(seed.next)
      val done = doneSeq.toSet
      val label = s"case $caseNo: ${prog.transform.rules.map(r =>
        s"${r.ruleType}(${r.where})->${r.zed}").mkString(" | ")}"

      val inputDf = toSparkRows(rows)
      val doneDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          doneSeq.map { case (t, o) => Row(t, o) }, 1),
        StructType(Seq(StructField("topic", StringType),
          StructField("offset", LongType))))

      val got = Compiler.compile(prog.transform)
        .run(inputDf, doneDf, prog.baseOffsets)
      val gotRows = got.collect().toSeq.map(canonSpark).map(_.toString).sorted
      val want = interpret(prog, rows, done).map(canonMap).map(_.toString).sorted
      assert(gotRows == want, s"\n$label\ngot=${gotRows.take(6)}\nwant=${want.take(6)}")
      checkedRows += gotRows.size

      // idempotency: fold emitted done pairs into the done set; re-run
      // must emit nothing
      val emittedDone = interpret(prog, rows, done).collect {
        case m if m("_type") == "done" =>
          val k = m("kafka").asInstanceOf[RowMap]
          (k("topic").asInstanceOf[String], k("offset").asInstanceOf[Long])
      }
      val done2 = (doneSeq ++ emittedDone).distinct
      val doneDf2 = spark.createDataFrame(
        spark.sparkContext.parallelize(
          done2.map { case (t, o) => Row(t, o) }, 1),
        StructType(Seq(StructField("topic", StringType),
          StructField("offset", LongType))))
      val rerun = Compiler.compile(prog.transform)
        .run(inputDf, doneDf2, prog.baseOffsets).count()
      assert(rerun == 0L, s"$label: re-run emitted $rerun rows, expected 0")
    }
    info(s"120 programs, $checkedRows output rows compared")
  }

  test("50 random programs through the CURSOR path: two incremental runs == one union run") {
    // The interpreter differential above fuzzes the COMPILER on full-scan
    // batches; this fuzzes the incremental PIPELINE — persisted cursors,
    // zone-map file dropping, late-arrival distrust (etl/Pipeline.scala) —
    // with the idempotency invariant the reference's anti-join encodes:
    // running batch 1 then batch 2 incrementally must leave the output
    // pool equal (as a multiset, modulo which dense offset each data row
    // drew) to one run over the union. Offsets are dense per topic, as a
    // Kafka partition assigns them, so cursors span several offsets.
    // Even cases feed each topic's low half first so run 2 rides an
    // advanced cursor; odd cases feed the HIGH half first so batch 2
    // arrives BELOW the cursor anchor and the pipeline must distrust it.
    // Each phase's persisted cursors must pass the resolved-cursor oracle,
    // and a second phase must plan with a trusted cursor for every input
    // topic (even cases) or with none, all distrusted (odd cases).
    import org.apache.spark.sql.functions.col
    var liveRuns = 0
    var checkedCursors, advancedCursors, exactCursors = 0
    for (caseNo <- 0 until 50) {
      val seed = Seed(5000L + caseNo)
      val (rows, _) = genRows(seed)
      val prog = genProgram(seed.next)
      val label = s"cursor case $caseNo"
      val contiguous = caseNo % 2 == 0
      val (b1, b2) = densePhases(rows, lowFirst = contiguous)

      def canonPool(df: DataFrame): Seq[String] = df.collect().toSeq.map { r =>
        val isData = r.getAs[String]("_type") == null
        r.schema.fieldNames.sorted.toList.map {
          case "kafka" =>
            val k = r.getAs[Row]("kafka")
            // a data row's dense offset depends on arrival order; the
            // multiset invariant masks it (density asserted separately)
            "kafka" -> (k.getAs[String]("topic"),
              if (isData) -1L else k.getAs[Long]("offset"))
          case n => n -> canonSpark(r.getAs[Any](n))
        }.toString
      }.sorted

      def runPhases(phases: Seq[Seq[RowMap]]): Seq[String] = {
        val root = java.nio.file.Files.createTempDirectory("etl-fuzz-cur").toString
        val raw = graft.lake.Pool.create(spark, root, "rawpool")
        graft.lake.Pool.create(spark, root, "stagepool")
        phases.filter(_.nonEmpty).zipWithIndex.foreach { case (batch, phase) =>
          raw.append(toSparkRows(batch))
          val p = new Pipeline(spark, prog.transform, root)
          if (phase == 1 && secondPhasePlansCursors(p, contiguous, label)) liveRuns += 1
          exactCursors += runUnderCursorOracle(p, root, prog.transform.digest,
            Seq("stagepool"), prog, label)._2
          val (n, past) = checkResolved(root, prog.transform.digest, Seq("stagepool"),
            label, consumed(prog, unmatched = false))
          checkedCursors += n
          advancedCursors += past
        }
        val out = graft.lake.Pool.open(spark, root, "stagepool").read()
        // dense per-topic offsets: 0..n-1 regardless of arrival split
        if (!out.columns.isEmpty) {
          out.filter(col("_type").isNull)
            .select(col("kafka.topic"), col("kafka.offset")).collect()
            .groupBy(_.getString(0)).foreach { case (t, rs) =>
              val offs = rs.map(_.getLong(1)).sorted.toSeq
              assert(offs == (0L until offs.length.toLong),
                s"$label: $t offsets not dense: $offs")
            }
          canonPool(out)
        } else Seq.empty
      }

      val incremental = runPhases(Seq(b1, b2))
      val union = runPhases(Seq(b1 ++ b2))
      assert(incremental == union,
        s"$label (contiguous=$contiguous):\n inc=${incremental.take(4)}\n uni=${union.take(4)}")
    }
    info(s"50 two-phase programs green; $liveRuns second phases planned with a live cursor " +
      s"for every input topic; $exactCursors resolved cursors matched the exact oracle; " +
      s"$checkedCursors persisted cursors ($advancedCursors past their base) passed the " +
      "resolved-cursor oracle")
    assert(liveRuns == 25, s"only $liveRuns of 25 contiguous second phases had live cursors")
    assert(exactCursors > 0, "no run resolved a cursor")
    assert(advancedCursors > 0, "no persisted cursor advanced past its base")
  }

  test("50 random programs with 2-pool outputs: per-pool two-phase == union, re-run emits nothing") {
    // CursorSpec pins the multi-pool split with hand cases; this fuzzes
    // it: the SAME generated programs as the cursor fuzz, lifted so out
    // topic o1 routes to a SECOND pool off the one shared input scan.
    // Invariants per case: (a) each pool's contents after two incremental
    // runs equal the one-union-run contents as multisets; (b) each out
    // topic's dense offsets stay 0..n-1 within its own pool; (c) a third
    // run over the fully-processed input emits ZERO rows — the
    // union-of-done-sets anti-join across pools, which would break if a
    // done marker landed in (or were read from) the wrong pool.
    import org.apache.spark.sql.functions.col
    var bothPools = 0
    var liveRuns = 0
    var checkedCursors, advancedCursors, exactCursors = 0
    for (caseNo <- 0 until 50) {
      val seed = Seed(9000L + caseNo)
      val (rows, _) = genRows(seed)
      val prog = genProgram(seed.next)
      // generated rules all route to o0; appended per-topic CATCH-ALL
      // rules sweep every unmatched row to o1 — so both pools populate
      // whenever the generated predicates match some-but-not-all rows
      // (first-match routing starves later random rules otherwise). This
      // test compares the same transform against itself, so remapping
      // outputs is sound.
      val transform = prog.transform.copy(
        outputs = Seq(TopicPool("o0", "stagepool"), TopicPool("o1", "stagepool2")),
        rules = prog.transform.rules.map(_.copy(out = "o0")) ++
          topics.map(t => Rule("stateless", "", t, "", "", "", "o1",
            "out := { id: in.key.id, amount: in.value.amount }")))
      val label = s"multipool case $caseNo"
      val contiguous = caseNo % 2 == 0
      val (b1, b2) = densePhases(rows, lowFirst = contiguous)

      def canonPool(df: DataFrame): Seq[String] =
        if (df.columns.isEmpty) Seq.empty
        else df.collect().toSeq.map { r =>
          val isData = r.getAs[String]("_type") == null
          r.schema.fieldNames.sorted.toList.map {
            case "kafka" =>
              val k = r.getAs[Row]("kafka")
              "kafka" -> (k.getAs[String]("topic"),
                if (isData) -1L else k.getAs[Long]("offset"))
            case n => n -> canonSpark(r.getAs[Any](n))
          }.toString
        }.sorted

      def runPhases(phases: Seq[Seq[RowMap]]): Map[String, Seq[String]] = {
        val root = java.nio.file.Files.createTempDirectory("etl-fuzz-mp").toString
        val raw = graft.lake.Pool.create(spark, root, "rawpool")
        graft.lake.Pool.create(spark, root, "stagepool")
        graft.lake.Pool.create(spark, root, "stagepool2")
        val pools = Seq("stagepool", "stagepool2")
        // the catch-all rules consume every row no generated rule matches
        def check(): Unit = {
          val (n, past) = checkResolved(root, transform.digest, pools, label,
            consumed(prog, unmatched = true))
          checkedCursors += n
          advancedCursors += past
        }
        phases.filter(_.nonEmpty).zipWithIndex.foreach { case (batch, phase) =>
          raw.append(toSparkRows(batch))
          val p = new Pipeline(spark, transform, root)
          if (phase == 1 && secondPhasePlansCursors(p, contiguous, label)) liveRuns += 1
          exactCursors += runUnderCursorOracle(p, root, transform.digest, pools, prog, label)._2
          check()
        }
        // the union-of-done-sets anti-join: everything is marked done in
        // its own pool, so one more run must plan and emit NOTHING
        val (extra, resolved) = runUnderCursorOracle(new Pipeline(spark, transform, root),
          root, transform.digest, pools, prog, label)
        exactCursors += resolved
        assert(extra == 0L, s"$label: re-run emitted $extra rows, expected 0")
        check()
        pools.map { pn =>
          val out = graft.lake.Pool.open(spark, root, pn).read()
          if (!out.columns.isEmpty) {
            out.filter(col("_type").isNull)
              .select(col("kafka.topic"), col("kafka.offset")).collect()
              .groupBy(_.getString(0)).foreach { case (t, rs) =>
                val offs = rs.map(_.getLong(1)).sorted.toSeq
                assert(offs == (0L until offs.length.toLong),
                  s"$label: $t offsets not dense in $pn: $offs")
              }
          }
          pn -> canonPool(out)
        }.toMap
      }

      val incremental = runPhases(Seq(b1, b2))
      val union = runPhases(Seq(b1 ++ b2))
      Seq("stagepool", "stagepool2").foreach { pn =>
        assert(incremental(pn) == union(pn),
          s"$label pool $pn (contiguous=$contiguous):\n inc=${incremental(pn).take(4)}\n uni=${union(pn).take(4)}")
      }
      if (union("stagepool").nonEmpty && union("stagepool2").nonEmpty) bothPools += 1
    }
    info(s"50 two-pool programs green; $bothPools cases populated both pools, " +
      s"$liveRuns second phases planned with a live cursor for every input topic; " +
      s"$exactCursors resolved cursors matched the exact oracle; $checkedCursors persisted " +
      s"cursors ($advancedCursors past their base) passed the resolved-cursor oracle")
    assert(liveRuns == 25, s"only $liveRuns of 25 contiguous second phases had live cursors")
    assert(exactCursors > 0, "no run resolved a cursor")
    assert(advancedCursors > 0, "no persisted cursor advanced past its base")
    assert(bothPools >= 10, s"only $bothPools cases routed rows to both pools")
  }

  test("DuckDB authority dump: 50 programs rendered to SQL + parquet") {
    // Dumps case_NNN/{input,done,spark_out}.parquet + oracle.sql under
    // target/etl-fuzz-duckdb; tools/check_etl_fuzz_duckdb.py runs each
    // oracle in DuckDB and multiset-compares against spark_out (EXCEPT ALL
    // both ways). Same seeds as the interpreter differential above, so the
    // three renderings (Catalyst, interpreter, SQL) cover the same programs.
    val base = java.nio.file.Paths.get("target/etl-fuzz-duckdb")
    // retry the recursive delete: a concurrent sbt/Spark process sharing
    // target/ can materialize .crc/_temporary entries between the walk
    // snapshot and the directory delete (observed once as
    // DirectoryNotEmptyException on a stale case dir) — a second pass
    // sees and removes them
    var pass = 0
    while (java.nio.file.Files.exists(base) && pass < 3) {
      import scala.jdk.CollectionConverters._
      pass += 1
      val stream = java.nio.file.Files.walk(base)
      // entries vanishing DURING the walk surface as UncheckedIOException
      // from the stream's iterator, not just as delete-time exceptions —
      // catch both shapes and let the next pass see the settled tree
      try stream.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      catch {
        case _: java.nio.file.DirectoryNotEmptyException if pass < 3 =>
        case _: java.io.UncheckedIOException if pass < 3 =>
        case _: java.nio.file.NoSuchFileException =>
      } finally stream.close()
    }
    assert(!java.nio.file.Files.exists(base),
      s"stale dump dir $base survived $pass delete passes")
    for (caseNo <- 0 until 50) {
      val seed = Seed(1000L + caseNo)
      val (rows, doneSeq) = genRows(seed)
      val prog = genProgram(seed.next)
      val dir = base.resolve(f"case_$caseNo%03d").toAbsolutePath
      java.nio.file.Files.createDirectories(dir)
      val inputDf = toSparkRows(rows)
      val doneDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          doneSeq.map { case (t, o) => Row(t, o) }, 1),
        StructType(Seq(StructField("topic", StringType),
          StructField("offset", LongType))))
      inputDf.repartition(1).write.mode("overwrite")
        .parquet(s"$dir/input.parquet")
      doneDf.repartition(1).write.mode("overwrite")
        .parquet(s"$dir/done.parquet")
      val flats = prog.rules.flatMap(r => flatOf(r.out).map(_._1)).distinct.sorted
      val got = Compiler.compile(prog.transform)
        .run(inputDf, doneDf, prog.baseOffsets)
      flattenGot(got, flats).repartition(1).write.mode("overwrite")
        .parquet(s"$dir/spark_out.parquet")
      java.nio.file.Files.writeString(dir.resolve("oracle.sql"),
        sqlFor(prog, s"$dir/input.parquet", s"$dir/done.parquet"))
    }
    assert(java.nio.file.Files.list(base).count() == 50)
  }
}
