package graftbench

import graft.{Materialize, SparkEntry}
import graft.core.AttrSet
import graft.data.{Ingest, ScopedCaches}
import graft.decompose.{DecompositionInfo, Decomposer}
import graft.entropy.EntropyEngine
import graft.mine.JdMiner
import graft.schema.SchemaEnumerator
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** What one pass produced: failed operations, the workload's own layer
  * counters, and the outputs the check looks at.
  */
final case class PassOut(failedOps: Int, counters: Map[String, Double], outputs: Any)

/** The check's verdict on one pass: problems found here (empty when
  * correct) and result digests that the Python side compares with the
  * DuckDB oracle.
  */
final case class Verdict(problems: Seq[String], digests: Map[String, String] = Map.empty)

trait Workload {
  /** Operations one pass attempts; a failed one counts once. */
  def opsPerPass: Int
  /** The timed work: calls into the layers, each through `t.layer`. */
  def pass(t: Tracer): PassOut
  /** Output checks, run outside the timed window. */
  def check(o: PassOut): Verdict
  /** Bring the session back to the state the first pass saw. */
  def reset(): Unit = {
    ScopedCaches.releaseAll()
    spark.catalog.clearCache()
  }
  def spark: SparkSession
}

object Workload {
  /** The same list in a seed-determined order. */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)

  def apply(name: String, spark: SparkSession, data: Path, seed: Long, out: Path): Workload =
    name match {
      case "paper_star" => new PaperStar(spark, data, out)
      case "entropy_lattice" => new EntropyLattice(spark, data)
      case "graph_family" => new GraphFamily(spark, data, seed, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The paper's workflow at ε = 0 on the TPC-H star relation:
  * encode → precompute entropies → mine separators and JDs → enumerate
  * acyclic schemas → evaluate each schema's join tree against the data.
  */
final class PaperStar(val spark: SparkSession, data: Path, out: Path) extends Workload {
  import PaperStar._

  private val star = spark.read.parquet(data.resolve("star.parquet").toString)
  def opsPerPass: Int = 1

  private var encoded: Option[DataFrame] = None

  def pass(t: Tracer): PassOut = {
    val enc = t.layer("data", "encode") {
      val e = Ingest.encode(Ingest.relationOf(star, Columns)).cache()
      e.count()
      e
    }
    encoded = Some(enc)
    val eng = new EntropyEngine(enc)
    val batches0 = t.layer("entropy", "precomputeMostSpecific") {
      eng.precomputeMostSpecific()
      eng.numQueriesIssued
    }
    val miner = new JdMiner(eng, Epsilon)
    val (seps, jds) = t.layer("mine", "mineAllMinSeps+mineAllFullJds") {
      val s = miner.mineAllMinSeps()
      (s, miner.mineAllFullJds(JdLimit, Some(s)))
    }
    val en = new SchemaEnumerator(Columns.length, jds.toVector)
    val schemas = t.layer("schema", "schemas") { en.schemas(SchemaLimit).toVector }
    val dec = new Decomposer(enc)
    val infos = t.layer("decompose", "evaluate") { schemas.map(s => dec.evaluate(s.tree)) }
    dec.distinctRelation.unpersist()
    val hits = eng.numCacheHits.toDouble
    val subsets = eng.cachedEntropies.toDouble
    PassOut(0, Map(
      "entropy.batches" -> eng.numQueriesIssued.toDouble,
      "entropy.memo_hits" -> hits,
      "entropy.subsets" -> subsets,
      "entropy.hit_ratio" -> (if (hits + subsets > 0) hits / (hits + subsets) else 0.0),
      "entropy.layer_batches" -> batches0.toDouble,
      "mine.seps" -> seps.size.toDouble,
      "mine.jds" -> jds.size.toDouble,
      "schema.emitted" -> schemas.size.toDouble,
      "schema.skipped" -> en.skippedUnrealizable.toDouble,
      "decompose.schemas" -> infos.size.toDouble,
      "decompose.spurious" -> infos.map(_.spurious).sum.toDouble),
      (seps.size, jds, infos))
  }

  def check(o: PassOut): Verdict = {
    val (nSeps, jds, infos) =
      o.outputs.asInstanceOf[(Int, Seq[graft.core.Jd], Seq[DecompositionInfo])]
    val problems = Seq.newBuilder[String]
    if (nSeps != ExpectedSeps) problems += s"mined $nSeps separators, expected $ExpectedSeps"
    if (jds.size != ExpectedJds) problems += s"mined ${jds.size} JDs, expected $ExpectedJds"
    if (infos.size != ExpectedSchemas)
      problems += s"evaluated ${infos.size} schemas, expected $ExpectedSchemas"
    for (i <- infos if i.spurious != 0 || i.joinSize != BigInt(i.numTuples))
      problems += s"schema ${i.clusters.mkString} has ${i.spurious} spurious tuples " +
        s"(join ${i.joinSize} vs ${i.numTuples} tuples)"
    // each JD's measure is re-derived by the Python side, with DuckDB
    val body = Json.obj("columns" -> Columns, "epsilon" -> Epsilon, "jds" -> jds.map { jd =>
      Map("lhs" -> jd.lhs.toSeq.map(Columns), "components" -> jd.components.map(_.toSeq.map(Columns)))
    })
    Verdict(problems.result(), Map("jds" -> Results.write(out, "jds", body)))
  }

  override def reset(): Unit = {
    encoded.foreach(_.unpersist())
    encoded = None
    super.reset()
  }
}

object PaperStar {
  val Columns: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_partkey",
    "o_custkey", "c_nationkey", "o_orderstatus")
  val Epsilon = 0.0
  val JdLimit = 10
  val SchemaLimit = 5
  // recorded when the benchmark was introduced, on the sf 0.002 star
  val ExpectedSeps = 2
  val ExpectedJds = 15
  val ExpectedSchemas = 2
}

/** All 2^7 - 1 subset entropies of a 7-column lineitem projection: few,
  * large GROUPING SETS batches and no driver-side search.
  */
final class EntropyLattice(val spark: SparkSession, data: Path) extends Workload {
  import EntropyLattice._

  private val lineitem = spark.read.parquet(data.resolve("lineitem.parquet").toString)
  private val golden: Map[Set[String], Double] = {
    val lines = Files.readAllLines(data.resolve("entropy_golden.tsv"), StandardCharsets.UTF_8)
    lines.toArray(Array.empty[String]).toSeq.filter(_.nonEmpty).map { l =>
      val Array(names, h) = l.split("\t")
      names.split(",").toSet -> h.toDouble
    }.toMap
  }
  private var encoded: Option[DataFrame] = None
  def opsPerPass: Int = 1

  def pass(t: Tracer): PassOut = {
    val enc = t.layer("data", "encode") {
      val e = Ingest.encode(Ingest.relationOf(lineitem, Columns)).cache()
      e.count()
      e
    }
    encoded = Some(enc)
    val eng = new EntropyEngine(enc)
    val hs = t.layer("entropy", "allEntropies") { eng.allEntropies() }
    val hits = eng.numCacheHits.toDouble
    val subsets = eng.cachedEntropies.toDouble
    PassOut(0, Map(
      "entropy.batches" -> eng.numQueriesIssued.toDouble,
      "entropy.layer_batches" -> eng.numQueriesIssued.toDouble,
      "entropy.memo_hits" -> hits,
      "entropy.subsets" -> subsets,
      "entropy.hit_ratio" -> (if (hits + subsets > 0) hits / (hits + subsets) else 0.0)),
      hs)
  }

  def check(o: PassOut): Verdict = {
    val hs = o.outputs.asInstanceOf[Map[AttrSet, Double]]
    val problems = Seq.newBuilder[String]
    if (hs.size != golden.size) problems += s"${hs.size} entropies, golden has ${golden.size}"
    for ((x, h) <- hs) {
      val names = x.toSeq.map(Columns).toSet
      golden.get(names) match {
        case None => problems += s"no golden entropy for ${names.mkString(",")}"
        case Some(g) if math.abs(g - h) > Tolerance =>
          problems += s"H(${names.mkString(",")}) = $h, golden $g"
        case _ => ()
      }
    }
    Verdict(problems.result())
  }

  override def reset(): Unit = {
    encoded.foreach(_.unpersist())
    encoded = None
    super.reset()
  }
}

object EntropyLattice {
  val Columns: Seq[String] = Seq("l_returnflag", "l_linestatus", "l_linenumber",
    "l_discount", "l_tax", "l_quantity", "l_suppkey")
  val Tolerance = 1e-9
}

/** The nine `li_*` graph queries of the registry, each built through
  * `SparkEntry.queries` and run through `Materialize`.
  */
final class GraphFamily(val spark: SparkSession, data: Path, seed: Long, out: Path)
    extends Workload {
  import GraphFamily._

  private val order = Workload.permute(Queries, seed)
  private val dir = data.toString
  def opsPerPass: Int = Queries.length

  def pass(t: Tracer): PassOut = {
    val dfs = order.map { q =>
      q -> scala.util.Try(t.layer("ops", q) {
        val df = SparkEntry.queries(q)(spark, dir)
        Materialize(df)
        df
      })
    }
    PassOut(dfs.count(_._2.isFailure), Map.empty, dfs)
  }

  def check(o: PassOut): Verdict = {
    val dfs = o.outputs.asInstanceOf[Seq[(String, scala.util.Try[DataFrame])]]
    val problems = Seq.newBuilder[String]
    val digests = Map.newBuilder[String, String]
    for ((q, tried) <- dfs) tried match {
      case scala.util.Failure(e) => problems += s"$q failed: $e"
      case scala.util.Success(df) =>
        // the rows go to the Python side, which holds the DuckDB oracle
        digests += q -> Results.write(out, q, Json.obj("columns" -> df.columns.toSeq,
          "rows" -> df.collect().toSeq))
    }
    Verdict(problems.result(), digests.result())
  }
}

/** Outputs handed to the Python side for checking, one file per distinct
  * content: `results/<name>.<sha1>.json`. Returns the digest.
  */
object Results {
  def write(out: Path, name: String, body: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(body.getBytes(StandardCharsets.UTF_8)).map(b => f"${b & 0xff}%02x").mkString
    val f = out.resolve("results").resolve(s"$name.$digest.json")
    if (!Files.exists(f)) {
      Files.createDirectories(f.getParent)
      Files.write(f, body.getBytes(StandardCharsets.UTF_8))
    }
    digest
  }
}

object GraphFamily {
  val Queries: Seq[String] = Seq("li_triangle_census", "li_local_clustering",
    "li_degree_assortativity", "li_adamic_adar", "li_community_modularity",
    "li_item_item_cf", "li_kcore_profile", "li_label_prop_communities", "li_bfs_reach")
}
