package graftbench

import graft.Graft
import graft.harmonize.{ColumnMapping, Discovery, FunctionMapper, Profile, ValueMatcher}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}
import scala.jdk.CollectionConverters._

/** The bdi-kit flow: profile → match_schema → match_values → edit-distance
  * join on the large name domain → materialize.
  *
  * The source is a seeded, perturbed copy of a clean target table: every
  * column renamed, [[PerturbShare]] of each categorical domain typo'd,
  * upper-cased or abbreviated (consistently, wherever the value occurs),
  * [[NameTypoShare]] of the names typo'd by one substitution, and the
  * numerics unit-scaled. Domains run from 5 values to [[Rows]] names.
  */
final class HarmonizeWorkload(seed: Long) extends Workload {
  val name = "harmonize"
  val Rows = 3000
  val PerturbShare = 0.3
  val NameTypoShare = 0.1
  val OutlierShare = 0.01

  /** target column → source column */
  val rename: Seq[(String, String)] = Seq(
    "id" -> "patient_id", "patient_name" -> "full_name", "vital_status" -> "VitalStatus",
    "diagnosis" -> "primary_diagnosis", "age_at_diagnosis" -> "age_at_diagnosis_days",
    "weight_kg" -> "weight_lb")
  private val srcOf = rename.toMap
  private val tgtOf = rename.map(_.swap).toMap
  val categorical: Seq[(String, Int)] = Seq("vital_status" -> 5, "diagnosis" -> 150)
  /** value-matched by tfidf; the other string columns are covered by the
    * schema match, and the name domain by the edit-distance join
    */
  val valueMatched = "diagnosis"
  /** source value = round(target value × factor, 3) */
  val scale: Seq[(String, Double)] = Seq("age_at_diagnosis" -> 365.25, "weight_kg" -> 2.20462)

  private val r = new scala.util.Random(seed)
  private val domains: Map[String, IndexedSeq[String]] = categorical.map { case (c, n) =>
    c -> Words.distinct(n)(Seq.fill(1 + r.nextInt(2))(Words.word(r, 2, 3)).mkString(" "))
  }.toMap
  /** per categorical column: planted source variant → original */
  private val variants: Map[String, Map[String, String]] = categorical.map { case (c, _) =>
    val dom = domains(c)
    val picked = r.shuffle(dom.indices.toList).take(math.max(1, (dom.size * PerturbShare).round.toInt))
    val taken = scala.collection.mutable.Set(dom: _*)
    c -> picked.zipWithIndex.map { case (i, k) =>
      val orig = dom(i)
      var v = perturb(orig, k % 3)
      while (taken.contains(v)) v = perturb(orig, 0)
      taken += v
      v -> orig
    }.toMap
  }.toMap
  private val variantOf: Map[String, Map[String, String]] = variants.map { case (c, m) => c -> m.map(_.swap) }
  private val names: IndexedSeq[String] = {
    val first = Words.distinct(300)(Words.word(r, 2, 3))
    val last = Words.distinct(400)(Words.word(r, 2, 4))
    Words.distinct(Rows)(s"${first(r.nextInt(first.size))} ${last(r.nextInt(last.size))}")
  }
  /** row index → typo'd name, each one substitution away from its original */
  private val nameTypos: Map[Int, String] = {
    val all = scala.collection.mutable.Set(names: _*)
    r.shuffle(names.indices.toList).take((Rows * NameTypoShare).toInt).map { i =>
      var v = typo(names(i))
      while (all.contains(v)) v = typo(names(i))
      all += v
      i -> v
    }.toMap
  }
  private val targetRows: IndexedSeq[Row] = (0 until Rows).map { i =>
    val cats = categorical.map { case (c, _) => domains(c)(r.nextInt(domains(c).size)) }
    val weight = if (r.nextDouble() < OutlierShare) 250 + r.nextInt(50) else 45 + r.nextDouble() * 75
    val nums = Seq(18 + r.nextDouble() * 70, weight).map(x => math.rint(x * 10) / 10)
    Row.fromSeq(Seq(i.toLong, names(i)) ++ cats ++ nums)
  }
  private val outliers = targetRows.count(_.getDouble(5) >= 250)
  private val targetSchema = StructType(
    Seq(StructField("id", LongType, nullable = false), StructField("patient_name", StringType)) ++
      categorical.map(c => StructField(c._1, StringType)) ++
      scale.map(s => StructField(s._1, DoubleType)))
  private val sourceSchema = StructType(targetSchema.fields.map(f => f.copy(name = srcOf(f.name))))
  private val sourceRows: IndexedSeq[Row] = r.shuffle(targetRows.indices.toIndexedSeq).map { i =>
    val t = targetRows(i)
    val cats = categorical.indices.map { k =>
      val (c, v) = (categorical(k)._1, t.getString(2 + k))
      variantOf(c).getOrElse(v, v)
    }
    val nums = scale.indices.map(k => math.rint(t.getDouble(2 + categorical.size + k) * scale(k)._2 * 1000) / 1000)
    Row.fromSeq(Seq(t.getLong(0), nameTypos.getOrElse(i, names(i))) ++ cats ++ nums)
  }

  private def typo(v: String): String = {
    val i = 1 + r.nextInt(v.length - 2)
    if (v(i) == ' ') typo(v)
    else {
      var c = ('a' + r.nextInt(26)).toChar
      while (c == v(i)) c = ('a' + r.nextInt(26)).toChar
      v.updated(i, c)
    }
  }

  /** 0: typo, 1: upper case, 2: abbreviation of the last word */
  private def perturb(v: String, kind: Int): String = kind match {
    case 0 => typo(v)
    case 1 => v.toUpperCase
    case _ =>
      val ws = v.split(' ')
      (ws.init :+ (ws.last.take(math.max(3, ws.last.length - 3)) + ".")).mkString(" ")
  }

  val tables: Seq[Table] = Seq(
    Table("target", targetSchema, targetRows),
    Table("source", sourceSchema, sourceRows))

  val steps: Seq[String] = Seq("harmonize.profile", "harmonize.match_schema",
    "harmonize.match_values", "harmonize.edit_join", "harmonize.materialize")

  private val srcNumeric = scale.map(s => srcOf(s._1))
  private val pairSchema = StructType(Seq(StructField("source", StringType), StructField("target", StringType)))
  private val tallSchema = StructType(Seq("source_column", "target_column", "source", "target")
    .map(StructField(_, StringType)) :+ StructField("similarity", DoubleType))

  def pass(run: PassRun, in: Map[String, DataFrame]): Unit = {
    val (src, tgt) = (in("source"), in("target"))
    val spark = src.sparkSession
    run.step("harmonize.profile") {
      Map(
        "numeric" -> Profile.numeric(src, srcNumeric).collect().toSeq,
        "outliers" -> Profile.numericOutliers(src, Seq(srcOf("weight_kg"))).collect().toSeq,
        "inclusion" -> Discovery.inclusion(Seq(
          (s"source.${srcOf(valueMatched)}", src, srcOf(valueMatched)),
          (s"target.$valueMatched", tgt, valueMatched))).collect().toSeq)
    }
    val coma = run.step("harmonize.match_schema") {
      Graft.matchSchema(src, tgt, "coma").select("source", "target").collect().toSeq
    }
    val mapped = coma.map(r => r.getString(0) -> r.getString(1))
    val valuePairs = mapped.filter(_._1 == srcOf(valueMatched))
    val tall = run.step("harmonize.match_values") {
      val matches = Graft.matchValuesMapping(src, tgt, valuePairs, "tfidf", 0.3)
      val rows = matches.collect().toSeq
      // coverage over the collected matches, as a caller holding them would
      val held = spark.createDataFrame(rows.asJava, tallSchema)
      Map("matches" -> rows, "coverage" -> Graft.valueMatchCoverage(held).collect().toSeq)
    }("matches")
    run.step("harmonize.edit_join") {
      ValueMatcher.editDistanceJoin(src, srcOf("patient_name"), tgt, "patient_name", 2).collect().toSeq
    }
    run.step("harmonize.materialize") {
      val matches = spark.createDataFrame(tall.asJava, tallSchema)
      val auto = Graft.mappingSpec(spark.createDataFrame(
        mapped.map { case (s, t) => Row(s, t) }.asJava, pairSchema))
      val user = valuePairs.map { case (s, t) =>
        ColumnMapping(s, t, Graft.createMapper(matches.where(F.col("source_column") === s)))
      } ++ mapped.collect { case (s, t) if scale.exists(_._1 == t) =>
        val factor = scale.find(_._1 == t).get._2
        ColumnMapping(s, t, FunctionMapper(c => F.round(c / factor, 1)))
      }
      val out = run.ctx.path("out/harmonized")
      Graft.materializeMapping(src, Graft.mergeMappings(auto, user))
        .write.mode("overwrite").parquet(out)
      out
    }
  }

  private def rows(outs: Map[String, Any], step: String, part: String): Seq[Row] =
    outs(step).asInstanceOf[Map[String, Seq[Row]]](part)

  def check(ctx: Ctx, in: Map[String, DataFrame], outs: Map[String, Any]): Verdict = {
    val numeric = rows(outs, "harmonize.profile", "numeric")
    val fences = rows(outs, "harmonize.profile", "outliers")
      .map(r => r.getAs[String]("column") -> r.getAs[Long]("n_above")).toMap
    val coma = outs("harmonize.match_schema").asInstanceOf[Seq[Row]].map(r => r.getString(0) -> r.getString(1))
    val accuracy = coma.count { case (s, t) => tgtOf.get(s).contains(t) }.toDouble / rename.size
    val matches = rows(outs, "harmonize.match_values", "matches")
    val matched = matches.filter(r => !r.isNullAt(3))
    val truthOf = (col: String, v: String) => variants(tgtOf(col)).getOrElse(v, v)
    val correct = matched.count(r => truthOf(r.getString(0), r.getString(2)) == r.getString(3))
    val precision = if (matched.isEmpty) 0.0 else correct.toDouble / matched.size
    val coverage = if (matches.isEmpty) 0.0 else matched.size.toDouble / matches.size
    val joined = outs("harmonize.edit_join").asInstanceOf[Seq[Row]].map(r => (r.getString(0), r.getString(1))).toSet
    val missedTypos = nameTypos.count { case (i, t) => !joined.contains((t, names(i))) }
    val harmonized = ctx.spark.read.parquet(outs("harmonize.materialize").asInstanceOf[String])
    val harmonizedFp = Harness.fingerprintFrame(harmonized)
    val nOut = harmonizedFp.takeWhile(_ != ':').toLong
    val checks = Seq(
      Check("harmonize.profile", numeric.size == scale.size && numeric.forall(_.getAs[Long]("n") == Rows),
        s"numeric profile covers ${scale.size} columns of $Rows rows"),
      Check("harmonize.profile", fences.get(srcOf("weight_kg")).contains(outliers.toLong),
        s"weight outliers above the fence ${fences.get(srcOf("weight_kg"))} == planted $outliers"),
      Check("harmonize.match_schema", accuracy == 1.0, s"coma recovers every planted rename (accuracy $accuracy)"),
      Check("harmonize.match_values", precision >= 0.9, s"value precision $precision >= 0.9"),
      Check("harmonize.match_values", coverage >= 0.9, s"value coverage $coverage >= 0.9"),
      Check("harmonize.edit_join", missedTypos == 0, s"every planted name typo joins its original ($missedTypos missed)"),
      Check("harmonize.materialize", nOut == Rows && harmonized.columns.toSet == targetSchema.fieldNames.toSet,
        s"materialized $nOut rows (want $Rows) with the target's columns"))
    val fingerprints = Map(
      "harmonize.profile" -> Harness.fingerprintRows(
        Seq("numeric", "outliers", "inclusion").flatMap(rows(outs, "harmonize.profile", _))),
      "harmonize.match_schema" -> Harness.fingerprintRows(outs("harmonize.match_schema").asInstanceOf[Seq[Row]]),
      "harmonize.match_values" -> Harness.fingerprintRows(
        Seq("matches", "coverage").flatMap(rows(outs, "harmonize.match_values", _))),
      "harmonize.edit_join" -> Harness.fingerprintRows(outs("harmonize.edit_join").asInstanceOf[Seq[Row]]),
      "harmonize.materialize" -> harmonizedFp)
    Verdict(checks, Map("harmonize.match_schema.accuracy" -> accuracy,
      "harmonize.match_values.precision" -> precision, "harmonize.match_values.coverage" -> coverage), fingerprints)
  }

  /** Point reads of single harmonized records from the written table. */
  def lookups(ctx: Ctx, in: Map[String, DataFrame]): IndexedSeq[Lookup] = {
    val rr = new scala.util.Random(seed ^ 0x5eed)
    lazy val table = ctx.spark.read.parquet(ctx.path("out/harmonized"))
    val srcName = sourceRows.map(r => r.getLong(0) -> r.getString(1)).toMap
    IndexedSeq.fill(Main.Lookups)(rr.nextInt(Rows).toLong).map { id =>
      Lookup("serve.lookup", () => {
        val got = table.where(F.col("id") === id).collect()
        got.length == 1 && got.head.getAs[String]("patient_name") == srcName(id)
      })
    }
  }

  def writtenBytes(ctx: Ctx, outs: Map[String, Any]): Long = Harness.treeBytes(ctx.path("out/harmonized"))
}
