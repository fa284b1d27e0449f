package graft.stages

import org.apache.spark.sql.Dataset

import graft.functions.ArrayMath
import graft.model.Taxonomy
import graft.synth.Det

/** The reference's small-model multi-task inference record (schema (c)):
  * a regression quality score plus, for each secondary task
  * (topic / format / age_group), the top-3 (class, prob) pairs from a
  * softmax over the task's class logits —
  * `small_model_inference/small_model_inference.py:77-93` and the task
  * tables at `training/all_tasks_bert.py:97-107`.
  */
final case class SmallModelRecord(
    doc_id: Long,
    score: Double,
    int_score: Int,
    topic_class_1: String, topic_prob_1: Double,
    topic_class_2: String, topic_prob_2: Double,
    topic_class_3: String, topic_prob_3: Double,
    format_class_1: String, format_prob_1: Double,
    format_class_2: String, format_prob_2: Double,
    format_class_3: String, format_prob_3: Double,
    age_group_class_1: String, age_group_prob_1: Double,
    age_group_class_2: String, age_group_prob_2: Double,
    age_group_class_3: String, age_group_prob_3: Double
)

/** Deterministic multi-task scorer standing in for the reference's trained
  * BERT heads (`BertMultiTask`, `training/all_tasks_bert.py:110-150`): one
  * regression head (score ∈ [0,5], `int_score = int(score)` truncation as in
  * `small_model_inference.py:80-81`) and one linear softmax head per
  * secondary task over the closed taxonomies.
  *
  * The heads are linear models over the same hashed character-n-gram feature
  * space as [[LangIdModel]]; the weight tensors are committed deterministic
  * constants (splitmix64-seeded, quantized) — no training run, no I/O,
  * identical on every JVM. The north rule replaces neural trainers with
  * deterministic scorers; what must match the reference is the DATAFLOW:
  * per-partition inference, softmax over class logits, per-task
  * top-3 extraction into `{task}_class_{1..3}` / `{task}_prob_{1..3}`.
  */
object TaskScorer extends Serializable {
  val Bits = 14
  val NumBuckets: Int = 1 << Bits
  private val Mask = NumBuckets - 1

  /** Context cap, mirroring the reference's 512-token truncation
    * (`small_model_inference.py:46`, tokenizer max_length).
    */
  val MaxChars = 2048

  private val HashSalt = 0x51ed2701a3b5c997L
  private val RegGain = 2000.0
  private val ClsGain = 800.0

  /** (task name, class labels) in the reference's task order
    * (`training/all_tasks_bert.py:97-101`).
    */
  val Tasks: Seq[(String, Seq[String])] = Seq(
    "topic" -> Taxonomy.topics,
    "format" -> Taxonomy.formats,
    "age_group" -> Taxonomy.ageGroups)

  /** Heads per bucket row: the regression head, then each task's classes in
    * [[Tasks]] order — 1 + 24 + 24 + 6 = 55.
    */
  private val Width = 1 + Tasks.map(_._2.length).sum

  /** The heads' weights in one BUCKET-major array: entry `b * Width + h` is
    * head h's weight at bucket b. [[scoreDoc]] reads one row of `Width`
    * floats (a couple of cache lines) per gram instead of one scattered
    * 64 KiB array per head. 2^14 × 55 floats ≈ 3.6 MB — broadcast once.
    */
  final class Weights private[TaskScorer] (private[TaskScorer] val rows: Array[Float])
    extends Serializable

  /** Deterministic quantized weight of one head at bucket `b`. */
  private def headWeight(salt: Long, b: Int): Float = {
    val h = Det.mix64(salt ^ (b.toLong * 0x9e3779b97f4a7c15L))
    val raw = (((h & 0xffffL) - 32768L).toFloat / 32768.0f) / 8.0f
    math.round(raw * 256.0f) / 256.0f // quantize: JVM-invariant
  }

  /** The committed weight tensors. Built once per JVM, broadcast by users. */
  lazy val default: Weights = {
    val salts = 0x5ecde7a11dL +: (for {
      ((_, labels), t) <- Tasks.zipWithIndex
      c <- labels.indices
    } yield (t + 1).toLong * 1000003L + c.toLong * 7919L)
    val rows = new Array[Float](NumBuckets * Width)
    for ((salt, h) <- salts.zipWithIndex; b <- 0 until NumBuckets)
      rows(b * Width + h) = headWeight(salt, b)
    new Weights(rows)
  }

  /** Top-k (classIdx, prob), prob desc with class-index tiebreak — the
    * deterministic equivalent of `torch.topk(probs, k)`
    * (`small_model_inference.py:88-90`).
    */
  def topK(probs: Array[Double], k: Int): Array[(Int, Double)] =
    probs.zipWithIndex
      .sortBy { case (p, i) => (-p, i) }
      .take(k)
      .map { case (p, i) => (i, p) }

  final case class DocScores(
      score: Double, intScore: Int, taskProbs: Array[Array[Double]])

  /** Scalar scoring of one document — the unit shared by the distributed
    * path and the spec's independent checks.
    */
  def scoreDoc(text: String, w: Weights): DocScores = {
    // ONE pass over the shared `Grams` bucket stream (one tokenization
    // with `LangIdModel`, under this scorer's salt and mask) and the
    // bucket-major weight rows; every head's accumulator receives its
    // additions in gram order (double += the widened float), so every
    // score and prob is bit-identical to a head-by-head sum
    val rows = w.rows
    val acc = new Array[Double](Width)
    val n = Grams.foreachBucket(text, MaxChars, HashSalt, Mask.toLong) { b =>
      val base = b * Width
      var k = 0
      while (k < Width) { acc(k) += rows(base + k); k += 1 }
    }
    val regMean = if (n == 0) 0.0 else acc(0) / n
    // score ∈ [0,5]: the reference regression head is trained on 0-5
    // annotation scores (`training/all_tasks_bert.py:347-348`)
    val score = 5.0 / (1.0 + math.exp(-RegGain * regMean))
    var off = 1
    val taskProbs = Tasks.map { case (_, labels) =>
      val logits = new Array[Double](labels.length)
      var c = 0
      while (c < labels.length) {
        logits(c) = if (n == 0) 0.0 else ClsGain * acc(off + c) / n
        c += 1
      }
      off += labels.length
      ArrayMath.softmax(logits)
    }.toArray
    DocScores(score, score.toInt, taskProbs)
  }

  /** One inference record (reference schema (c)). */
  def record(docId: Long, text: String, w: Weights): SmallModelRecord = {
    val ds = scoreDoc(text, w)
    val tk = Tasks.zipWithIndex.map { case ((_, labels), t) =>
      topK(ds.taskProbs(t), 3).map { case (ci, p) => (labels(ci), p) }
    }
    val Seq(tp, fm, ag) = tk
    SmallModelRecord(docId, ds.score, ds.intScore,
      tp(0)._1, tp(0)._2, tp(1)._1, tp(1)._2, tp(2)._1, tp(2)._2,
      fm(0)._1, fm(0)._2, fm(1)._1, fm(1)._2, fm(2)._1, fm(2)._2,
      ag(0)._1, ag(0)._2, ag(1)._1, ag(1)._2, ag(2)._1, ag(2)._2)
  }

  /** Distributed inference: (doc_id, text) → annotated records. One
    * `mapPartitions` pass with one broadcast deref per partition — the
    * per-shard loop of the reference (`small_model_inference.py:46-66`),
    * without its GPU batching, which a row-at-a-time CPU scorer does not
    * need. No shuffle.
    */
  def annotateRecords(docs: Dataset[(Long, String)]): Dataset[SmallModelRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(default)
    docs.mapPartitions { iter =>
      val w = bw.value
      iter.map { case (id, text) => record(id, text, w) }
    }
  }
}
