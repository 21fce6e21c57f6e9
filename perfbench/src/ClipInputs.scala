package perfbench

import graft.conf.GraftConf
import graft.kernel.Hashing
import graft.synth.{Clip, ClipTableGen}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The seeded clip table of `dedup_skew_ckpt`, with planted truth: the
  * generator's table plus hostile rows.
  *
  * Truth is a `truth_group` per clip: clips of one group are duplicates of
  * each other; a clip alone in its group is a singleton. It comes from how
  * the rows were generated and from the documented duplicate criterion,
  * never from the pipeline. `planted_group` keeps the generator's own
  * labels, which `truth_group` refines (see [[specComponents]]). */
object ClipInputs {

  /** Rows asked of `ClipTableGen.tableWithTruth`. */
  val GeneratorRows = 4500
  // hostile rows appended to them
  val MusicOnly = 200   // empty transcript, distinct audio: singletons
  val Ads = 3           // each ad repeated AdCopies times: one group per ad
  val AdCopies = 200
  val IntroClips = 150  // shared spoken intro + own text: singletons
  val IntroTokens = 12

  private def hostileId(seed: Long, tag: Long, i: Long): String =
    f"c${Hashing.derive(seed ^ tag, i)}%016x"

  /** Group indexes from `from` on whose groups have no variants, so that
    * synthesizing their master synthesizes nothing else. */
  private def soloGroups(seed: Long, from: Long, count: Int): Seq[Long] =
    Iterator.iterate(from)(_ + 1).filter(ClipTableGen.variantCount(seed, _) == 0).take(count).toSeq

  /** Master rows of variant-free groups, reused as hostile-row bodies with
    * group indexes far beyond those of the planted table. */
  private def masters(spark: SparkSession, seed: Long, from: Long, count: Int): Dataset[(Long, Clip)] = {
    import spark.implicits._
    soloGroups(seed, from, count).zipWithIndex.map { case (g, i) => i.toLong -> g }.toDS()
      .map { case (i, g) => i -> ClipTableGen.group(seed, g).head }
  }

  def rows(spark: SparkSession, seed: Long): Dataset[Clip] = {
    import spark.implicits._
    val intro = Array.tabulate(IntroTokens)(i =>
      ClipTableGen.vocab((Hashing.derive(seed ^ 0x1a7f0L, i).abs % ClipTableGen.vocab.length).toInt))
      .mkString(" ")
    val music = masters(spark, seed, 1000000L, MusicOnly).map { case (i, c) =>
      c.copy(clip_id = hostileId(seed, 0x6d75L, i), transcript = "", group_id = -1L, variant = "music")
    }
    val ads = masters(spark, seed, 2000000L, Ads).flatMap { case (k, c) =>
      (0 until AdCopies).map(r => c.copy(clip_id = hostileId(seed, 0xad5L, k * AdCopies + r),
        group_id = k, variant = "ad"))
    }
    val intros = masters(spark, seed, 3000000L, IntroClips).map { case (i, c) =>
      c.copy(clip_id = hostileId(seed, 0x1e7L, i), transcript = s"$intro ${c.transcript}",
        group_id = -1L, variant = "intro")
    }
    ClipTableGen.tableWithTruth(spark, GeneratorRows, seed).union(music).union(ads).union(intros)
  }

  /** The documented duplicate criterion on transcripts, computed here on
    * token strings rather than with the program's hashing: k-token shingle
    * Jaccard at least `textJaccardThreshold`, or one transcript a contiguous
    * token run of the other of at least `substringWindow` tokens. */
  private val Spec = GraftConf()

  private def shingles(toks: Array[String]): Set[String] =
    if (toks.length < Spec.textShingleK) Set(toks.mkString(" "))
    else toks.sliding(Spec.textShingleK).map(_.mkString(" ")).toSet

  private def contains(outer: Array[String], inner: Array[String]): Boolean =
    inner.length >= Spec.substringWindow && outer.length >= inner.length &&
      outer.sliding(inner.length).exists(_.sameElements(inner))

  private def specDup(a: Array[String], b: Array[String]): Boolean =
    a.nonEmpty && b.nonEmpty && {
      val (sa, sb) = (shingles(a), shingles(b))
      val inter = sa.count(sb)
      inter.toDouble / (sa.size + sb.size - inter) >= Spec.textJaccardThreshold ||
        contains(a, b) || contains(b, a)
    }

  /** Truth of one generator group: the connected components of its members
    * under [[specDup]]. The generator plants its variants to meet that
    * criterion, but a `textnear` variant of a 30–35 token transcript (two
    * substituted tokens) falls below the Jaccard threshold. A variant below
    * the criterion is a distinct clip by the program's own definition: it
    * gets a component of its own unless another member links it. Exact and audio near-dup
    * variants carry the master's transcript, so the text criterion alone
    * keeps them with the master; hard negatives stay alone. */
  private def specComponents(group: Long, members: Iterator[(String, String)]): Seq[(String, String)] = {
    val ms = members.toArray.sortBy(_._1)
    val toks = ms.map { case (_, t) => val s = t.trim; if (s.isEmpty) Array.empty[String] else s.split("\\s+") }
    val parent = Array.tabulate(ms.length)(identity)
    def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
    for (i <- ms.indices; j <- i + 1 until ms.length if specDup(toks(i), toks(j)))
      parent(find(i)) = find(j)
    ms.indices.map(i => ms(i)._1 -> s"g-$group-${find(i)}")
  }

  /** Generate once and write the input table (the input_hint columns only);
    * returns the seconds that took. With `truth`, then write the truth
    * table (clip_id, truth_group, planted_group) as a separate parquet
    * dataset, untimed: it is the benchmark's, not the program's input. */
  def write(spark: SparkSession, seed: Long, dir: String, truth: Boolean): Double = {
    val all = rows(spark, seed).toDF().persist(StorageLevel.MEMORY_AND_DISK)
    val inputS = Util.timeS(all.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
      .write.parquet(s"$dir/clips"))
    if (truth) writeTruth(spark, all, dir)
    all.unpersist(false)
    inputS
  }

  /** Truth from the rows' transcripts and provenance, collected and
    * computed locally: the table is a few thousand rows. */
  private def writeTruth(spark: SparkSession, all: DataFrame, dir: String): Unit = {
    import spark.implicits._
    val rows = all.select("clip_id", "group_id", "variant", "transcript")
      .as[(String, Long, String, String)].collect()
    val planted = rows.map { case (id, g, variant, _) =>
      id -> (variant match {
        case "hardneg" | "music" | "intro" => s"solo-$id"
        case "ad" => s"ad-$g"
        case _ => s"g-$g"
      })
    }
    val spec = rows.filter { case (_, _, variant, _) => !Set("music", "ad", "intro")(variant) }
      .groupBy(_._2).toSeq
      .flatMap { case (g, ms) => specComponents(g, ms.iterator.map(r => r._1 -> r._4)) }.toMap
    planted.toSeq.map { case (id, p) => (id, spec.getOrElse(id, p), p) }
      .toDF("clip_id", "truth_group", "planted_group")
      .write.parquet(s"$dir/truth")
  }

  /** Families of planted groups, by `truth_group` prefix; recall is gated
    * on each family on its own. Singletons (`solo-`) plant no pairs. */
  val Families = Seq("generator" -> "g-", "ad" -> "ad-")

  /** Pairwise recall/precision of a clustering against planted groups,
    * computed from Σ C(k,2) over (cluster, truth group) cells, so a large
    * cluster costs one aggregation instead of a materialized pair list.
    * `planted` and `truePairs` are per family. */
  final case class Score(planted: Map[String, Long], truePairs: Map[String, Long], coClustered: Long) {
    def recall(family: String): Double = {
      val p = planted.getOrElse(family, 0L)
      if (p == 0) 1.0 else truePairs.getOrElse(family, 0L).toDouble / p
    }
    def precision: Double = if (coClustered == 0) 1.0 else truePairs.values.sum.toDouble / coClustered
  }

  private val family: Column = Families.foldLeft(lit("solo")) { case (c, (name, prefix)) =>
    when(col("truth_group").startsWith(prefix), name).otherwise(c)
  }

  private def pairsByFamily(df: DataFrame, keys: String*): Map[String, Long] =
    df.groupBy(keys.map(col): _*).count()
      .groupBy(family.as("family")).agg(expr("sum(count * (count - 1) DIV 2)"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Scores against the `truth_group` column; `labels` names another column
    * of the truth table to score against instead (`planted_group`). */
  def score(clusters: DataFrame, truth: DataFrame, labels: String = "truth_group"): Score = {
    val t = truth.select(col("clip_id"), col(labels).as("truth_group"))
    Score(pairsByFamily(t, "truth_group"),
      pairsByFamily(clusters.join(t, "clip_id"), "cluster_id", "truth_group"),
      clusters.groupBy("cluster_id").count()
        .agg(expr("coalesce(sum(count * (count - 1) DIV 2), 0L)")).head().getLong(0))
  }
}
