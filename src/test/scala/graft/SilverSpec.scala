package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col

import graft.scale.{Dedup, Silver}

/** Contract tests for the silver materialization seam. */
class SilverSpec extends SparkSpec {

  test("scratch: two runs sharing one silver dir do not overwrite each other") {
    // newSession(): own conf over the shared context, so setting the
    // silver dir cannot leak into other suites.
    val s2 = spark.newSession()
    val tmp = java.nio.file.Files.createTempDirectory("graft_silver").toString
    s2.conf.set("spark.graft.silver.dir", tmp)
    val df1 = Silver.scratch(s2.range(10).toDF("v"), "scratch_test")
    val df2 = Silver.scratch(s2.range(20).toDF("v"), "scratch_test")
    // With a FIXED name the second write would have clobbered df1's
    // parquet mid-read; per-call suffixes keep both frames intact.
    assert(df1.count() == 10)
    assert(df2.count() == 20)
    val dirs = new java.io.File(tmp).list().count(_.startsWith("scratch_test_"))
    assert(dirs == 2, s"expected two distinct scratch tables, saw $dirs")
  }

  test("materialize: fixed-name silver tables land at the configured path") {
    val s2 = spark.newSession()
    val tmp = java.nio.file.Files.createTempDirectory("graft_silver2").toString
    s2.conf.set("spark.graft.silver.dir", tmp)
    val df = Silver.materialize(s2.range(5).toDF("v"), "named_table")
    assert(df.count() == 5)
    assert(new java.io.File(s"$tmp/named_table").isDirectory)
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Fresh corpus dir holding a copy of one Sf0001 table. */
  private def corpusWith(table: String): Path = {
    val corpus = Files.createTempDirectory("graft_silver_corpus")
    Files.copy(Paths.get(TestSpark.Sf0001, s"$table.parquet"),
      corpus.resolve(s"$table.parquet"))
    corpus
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(q => { Files.delete(q); () })

  test("corpusScaffold: hit on an unchanged table, rebuild after an in-place " +
      "rewrite, superseded dir still readable") {
    val corpus = corpusWith("nation")
    val table = corpus.resolve("nation.parquet")
    var writes = 0
    def scaffold(): String =
      Silver.corpusScaffold(corpus.toString, "nation", "silver_spec") { d =>
        writes += 1
        spark.read.parquet(table.toString).write.parquet(d)
      }
    val d1 = scaffold()
    assert(scaffold() == d1 && writes == 1, "unchanged table should cache-hit")
    // rewrite in place: same bytes, bumped mtime -> new content signature
    Files.delete(table)
    Files.copy(Paths.get(TestSpark.Sf0001, "nation.parquet"), table)
    table.toFile.setLastModified(table.toFile.lastModified() + 10000)
    val d2 = scaffold()
    assert(d2 != d1 && writes == 2, "rewritten table must rebuild the scaffold")
    assert(Silver.scaffoldFor(corpus.toString, "silver_spec").contains(d2))
    assert(spark.read.parquet(d1).count() == spark.read.parquet(d2).count(),
      s"superseded scaffold no longer readable: $d1")
  }

  test("blocking audit: a documents table rewritten in place as a subset " +
      "gives the same answer as a fresh copy of that subset") {
    val corpus = corpusWith("documents")
    val docs = corpus.resolve("documents.parquet")
    val full = Dedup.blockingEvalQuery(spark, corpus.toString).collect().toSeq
    val subset = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .filter(col("doc_id") % 3 =!= 0)
    val staged = Files.createTempDirectory("graft_silver_subset").resolve("d")
    subset.coalesce(1).write.parquet(staged.toString)
    deleteTree(docs)
    Files.move(staged, docs)
    val rewritten = Dedup.blockingEvalQuery(spark, corpus.toString).collect().toSeq
    val fresh = Files.createTempDirectory("graft_silver_fresh")
    subset.coalesce(1).write.parquet(fresh.resolve("documents.parquet").toString)
    val expect = Dedup.blockingEvalQuery(spark, fresh.toString).collect().toSeq
    assert(rewritten != full, "subset corpus should change the audit counts")
    assert(rewritten == expect,
      s"stale audit tables served after rewrite: $rewritten vs $expect")
  }

  test("release: frees a localCheckpointed frame, leaves a parquet silver " +
      "table alone") {
    val before = persistedIds
    val ckpt = Silver.materialize(spark.range(100).toDF("v"), "release_ckpt")
    val added = persistedIds -- before
    assert(added.nonEmpty, "localCheckpoint persisted no RDD")
    Silver.release(ckpt)
    assert((persistedIds intersect added).isEmpty,
      s"checkpoint RDDs still persisted after release: $added")

    val s2 = spark.newSession()
    s2.conf.set("spark.graft.silver.dir",
      Files.createTempDirectory("graft_silver_release").toString)
    val table = Silver.materialize(s2.range(10).toDF("v"), "release_pq")
    val snapshot = persistedIds
    Silver.release(table)
    assert(persistedIds == snapshot)
    assert(table.count() == 10)
  }

  test("connectedComponents leaves only the node-universe and final rounds " +
      "persisted") {
    import spark.implicits._
    val before = persistedIds
    // a 64-node chain takes several star-contraction rounds
    val cc = Dedup.connectedComponents(
      (1L until 64L).map(i => (i, i + 1)).toDF("u", "v"))
    val left = persistedIds -- before
    // `cc` reads both kept rounds and stays reachable past the snapshot,
    // so the context cleaner cannot free them mid-measurement
    assert(cc.select("component").distinct().count() == 1)
    assert(left.size == 2, s"expected 2 persisted rounds, saw ${left.size}")
  }

  test("only Silver reads the silver-dir conf or registers shutdown hooks") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val owner = Paths.get("src/main/scala/graft/scale/Silver.scala")
    val banned = Seq("\"spark.graft.silver.dir\"", "addShutdownHook")
    val s = Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p != owner)
        .flatMap { p =>
          val text = Files.readString(p)
          banned.filter(text.contains).map(b => s"$p: $b")
        }
    } finally s.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
