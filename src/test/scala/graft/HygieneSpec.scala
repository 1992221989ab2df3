package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.ops.{Chunking, Corpus, Dedup, Pipeline, Similarity, TextStats}
import graft.streaming.{CorpusStream, SftStream}
import graft.queries.{QueryDef, Tuning}

/** Session hygiene. Pinned-block lifecycle: operators that localCheckpoint
  * intermediates (Dedup q41/q42) leave pinned RDDs after their action —
  * the harness (Bench/Verify) must release them between queries, and
  * does. Session conf: operators leave it alone, queries change exactly
  * their declared [[Tuning]], and `SessionHygiene.clear` undoes it.
  * Function registry and temp views: operators build custom expressions
  * as typed Columns, so they register nothing and leave no view. */
class HygieneSpec extends AnyFunSuite {
  private val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  test("SessionHygiene.clear releases every pinned localCheckpoint block") {
    SessionHygiene.clear(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    SparkEntry.queries("q42_dedup_minhash_lsh")(spark, sf).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected q42's localCheckpoint intermediates to be pinned after the action")
    SessionHygiene.clear(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "hygiene must leave zero pinned RDD blocks")
  }

  test("no oracle SQL carries an interpolated Scala null (val-init-order trap)") {
    // Twice this round a string-interpolated oracle captured a
    // not-yet-initialized val (`s"WITH $quantCte"` before quantCte's
    // declaration) and silently baked the literal text "null" into the
    // SQL. Engine SQL spells the SQL constant in UPPERCASE everywhere,
    // so a lowercase standalone `null` token can only be the trap.
    val bad = "\\bnull\\b".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(bad.findFirstIn(sql).isEmpty,
        s"$name's oracle contains a lowercase 'null' — an uninitialized " +
          "val was interpolated; make the SQL a def or lazy val")
    }
    // A numeric val interpolated too early reads 0, not null: q224's
    // oracle once built its mirror rows as `doc_id + 0`, reusing the
    // original doc_ids, because its offset was declared further down.
    assert(SparkEntry.oracleSql("q224_cluster_source_mix")
      .contains(s"doc_id + ${Dedup.EditInjOffset},"),
      "q224's mirror rows must carry the injection offset")
  }

  test("SessionHygiene.clear releases localCheckpoint blocks without a WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    SessionHygiene.clear(spark)
    spark.range(100).repartition(2).localCheckpoint().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    // RDD.unpersist logs on the calling thread; other threads' WARNs
    // (listeners, leftover streams) are not clear's
    val thread = Thread.currentThread.getName
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("hygiene-warns", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN) && e.getThreadName == thread) {
          warns.add(e.getMessage.getFormattedMessage); ()
        }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    try {
      SessionHygiene.clear(spark)
      // the appender does see what RDD.unpersist would have logged
      LogManager.getLogger(classOf[org.apache.spark.rdd.RDD[_]]).warn("probe")
    } finally root.removeAppender(appender)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(warns.asScala.toSeq == Seq("probe"), warns.asScala.mkString("\n"))
  }

  test("tables and artifacts are read through ParquetTables, never a schema-less read.parquet") {
    // A schema-less read runs a footer-inference job on every frame
    // build; ParquetTables infers once per table version.
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = Seq("ops", "queries").flatMap(d =>
      java.nio.file.Files.walk(root.resolve(d)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq) :+ root.resolve("GraftExtensions.scala")
    assert(files.size > 15, s"read ${files.size} sources under $root")
    val read = "\\bread\\.parquet\\(".r
    val bad = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("TEBIS files are listed and decoded only under graft/tebis") {
    // One reader: Discovery.csvFiles decides which files are input and
    // TebisCsv.decode/read turn their bytes into datapoints. A second
    // listing or decode elsewhere is a second idea of an input file, and
    // such copies have drifted apart before (hidden and `.CSV` files).
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .filterNot(_.toString.contains("graft/tebis/"))
    assert(files.size > 50, s"read ${files.size} sources under $root")
    val decode = "TebisCsv\\.Encoding|\\bparseContent\\(".r
    val listing = "\\b(globStatus|listStatus)\\(".r
    val csvLiteral = "(?i)\"[^\"]*\\.csv\"".r
    val bad = files.flatMap { f =>
      val code = java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.filterNot {
        case (line, _) => val t = line.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
      }
      def hits(re: scala.util.matching.Regex) = code.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
      // a listing and a `.csv` name test in one file is a `.csv` listing,
      // whether or not they share a line
      val csvListing = if (hits(listing).nonEmpty) hits(csvLiteral) else Nil
      hits(decode) ++ csvListing
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("directories are replaced only through FsUtil.replaceDir, and stream state has one layout") {
    // One commit: the temp name, the `.old` grace copy and the checked
    // renames live in FsUtil.replaceDir; a hand copy elsewhere is a second
    // commit, and such copies have drifted apart before. One layout:
    // StreamState compacts into tiered runs only, never generations.
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"read ${files.size} sources under $root")
    val swap = "\\brenameOrThrow\\(|\\.old\"|\\.tmp-".r
    val bad = files.flatMap { f =>
      val fsUtil = f.endsWith(java.nio.file.Paths.get("graft/util/FsUtil.scala"))
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("gen=") || (!fsUtil && {
            val t = line.trim
            !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") &&
              swap.findFirstIn(line).isDefined
          }) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("Catalog.save releases its own checkpoint blocks") {
    import spark.implicits._
    SessionHygiene.clear(spark)
    val dir = java.nio.file.Files.createTempDirectory("cat").toString
    val cat = Seq(graft.tebis.TimeSeriesMeta("a", "a", "d")).toDS()
    graft.tebis.Catalog.save(cat, s"$dir/catalog.parquet")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "save() must unpersist the snapshot it pinned")
  }

  test("the operators that once tuned the session leave its conf unchanged") {
    SessionHygiene.clear(spark)
    val before = spark.conf.getAll
    def unchanged[T](op: String)(run: => T): T = {
      val out = run
      assert(spark.conf.getAll == before, s"$op changed the session conf")
      out
    }
    val docs = QueryDef.t(spark, sf, "documents")
    unchanged("ngramJaccardPairs")(noop(Dedup.ngramJaccardPairs(docs, 0.8)))
    unchanged("minhashLshPairs")(noop(Dedup.minhashLshPairs(docs, 0.8)))
    unchanged("decontaminate")(noop(Dedup.decontaminate(docs, 0.8)))
    unchanged("bloomTrainSurvivors")(noop(Dedup.bloomTrainSurvivors(spark, sf)._2))
    unchanged("cdcChunks")(noop(Dedup.cdcChunks(docs)))
    unchanged("winnowing")(noop(Dedup.winnowing(docs)))
    unchanged("simhash")(noop(Dedup.simhash(docs)))
    unchanged("simhashDistanceHistogram")(noop(Dedup.simhashDistanceHistogram(docs)))
    unchanged("repCalibrationPairs")(noop(Dedup.repCalibrationPairs(docs)))
    unchanged("cleanTrainStages")(noop(Pipeline.cleanTrainStages(docs)._3))
    val q = unchanged("quantized")(
      Similarity.quantized(spark, sf).select("vec_id", "qv", "nrm").localCheckpoint())
    // a split index: even vectors as the base, odd ones as one appends batch
    val idx = java.nio.file.Files.createTempDirectory("hyg-idx").toString
    Similarity.saveIvfIndexOn(spark, q.filter(expr("vec_id % 2 = 0")), idx)
    Similarity.assignCells(q.filter(expr("vec_id % 2 = 1")),
        spark.read.parquet(s"$idx/centroids"), Similarity.IvfNprobe)
      .write.parquet(s"$idx/appends/batch_id=0")
    val base = Similarity.assignmentsRead(spark, idx)
    val app = graft.streaming.StreamState.read(spark, s"$idx/appends").get
    unchanged("ivfScoredPairsOn")(
      noop(Similarity.ivfScoredPairsOn(spark, base.unionByName(app))))
    unchanged("ivfScoredPairsSplit")(
      noop(Similarity.ivfScoredPairsSplit(spark, base, app)))
    unchanged("ivfScoredPairsSplitCapped")(
      noop(Similarity.ivfScoredPairsSplitCapped(spark, base, app)))
    SessionHygiene.clear(spark)
  }

  test("a tuned query changes exactly its declared conf, and clear undoes it") {
    val tuned = SparkEntry.modules.filter(_.tuning.keys.nonEmpty)
    assert(tuned.nonEmpty)
    tuned.foreach { q =>
      SessionHygiene.clear(spark)
      val before = spark.conf.getAll
      noop(q.fn(spark, sf))
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k)).map(k => k -> after(k)).toMap
      val declared = spark.newSession()
      q.tuning.applyTo(declared)
      assert(changed == q.tuning.keys.map(k => k -> declared.conf.get(k)).toMap,
        s"${q.name} changed conf beyond its declared tuning")
      SessionHygiene.clear(spark)
      assert(spark.conf.getAll == before, s"clear left ${q.name}'s tuning behind")
    }
  }

  test("the SHJ conversion threshold follows a raised advisory partition size") {
    val s = spark.newSession()
    def threshold =
      s.sessionState.conf.getConf(SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD)
    def advisory = s.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    Tuning.hashJoins.applyTo(s)
    assert(threshold == (64L << 20) && threshold >= advisory)
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
    Tuning.hashJoins.applyTo(s)
    assert(threshold == (256L << 20), "AQE converts SMJ→SHJ only when threshold ≥ advisory")
    // and the conversion does fire: equal-sized, unbroadcastable sides
    // plan as SMJ statically and become SHJ in the AQE-final plan
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val joined = s.range(1000).join(s.range(1000).withColumnRenamed("id", "id2"),
      expr("id = id2"))
    joined.toLocalIterator().forEachRemaining(_ => ())
    val plan = joined.queryExecution.executedPlan
      .asInstanceOf[AdaptiveSparkPlanExec].executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"), plan)
  }

  test("operators leave the function registry and temp views as they found them") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val names = GraftFunctions.builders.map(_._1)
    names.foreach(n => reg.dropFunction(FunctionIdentifier(n)))
    val views = s.catalog.listTables().collect().map(_.name).toSet
    val docs = QueryDef.t(s, sf, "documents")
    noop(Dedup.ngramJaccardPairs(docs, 0.8))
    noop(Dedup.minhashLshPairs(docs, 0.8))
    noop(Dedup.decontaminate(docs, 0.8))
    noop(Dedup.bloomDecontaminate(s, sf))
    noop(Dedup.cdcChunks(docs))
    noop(Dedup.winnowing(docs))
    noop(Dedup.simhashPairs(docs, 3))
    noop(Dedup.repCalibrationPairs(docs))
    noop(Similarity.knnLsh(s, sf, 3))
    noop(Similarity.knnIvfPq(s, sf, 3))
    noop(Similarity.labelConfusion(s, sf))
    noop(Similarity.daviesBouldin(s, sf))
    noop(Similarity.crossModalAlignment(s, sf))
    noop(Pipeline.cleanTrainStages(docs)._3)
    noop(Chunking.retrievalContainment(docs))
    noop(TextStats.fingerprintRolling(docs))
    noop(Corpus.hybridSearch(s, sf))
    val bloom = SftStream.benchBloomBytes(s)
    noop(SftStream.gateTurns(
      s.createDataFrame(Seq(("assistant", "a b c d e f g h"))).toDF("role", "text"),
      Nil, bloom))
    noop(CorpusStream.contaminationGuard(docs, bloom))
    names.foreach(n => assert(!reg.functionExists(FunctionIdentifier(n)), s"$n was registered"))
    assert(s.catalog.listTables().collect().map(_.name).toSet == views, "a temp view was left")
    SessionHygiene.clear(s)
  }

  test("operators reach custom expressions only through the typed constructors") {
    // The SQL names exist for SQL users; an operator that spells one in a
    // string only resolves after something registered it. Allowed: the
    // expressions' own package, the extensions, and the reference twin
    // WinnowSpec checks winnow_select against.
    val call = ("\\b(" + GraftFunctions.builders.map(_._1).mkString("|") + ")\\(").r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .filterNot(f => f.toString.contains("graft/functions/") ||
        f.toString.endsWith("GraftExtensions.scala"))
    assert(files.size > 50, s"read ${files.size} sources under $root")
    val bad = files.flatMap { f =>
      var inReference = false
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        if (line.contains("val winnowSelLambdaExpr")) inReference = true
        val hit = !inReference && (line.contains("GraftFunctions.register(") || {
          val code = line.trim
          !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*") &&
            call.findFirstIn(line).isDefined
        })
        if (inReference && line == "  }") inReference = false
        if (hit) Some(s"$f:${i + 1}: ${line.trim}") else None
      }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }
}
