package graft.bench

import java.sql.Timestamp
import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** A transcript turn, the input shape of `Pipeline.run`. */
final case class Turn(conv_id: String, turn_idx: Int, role: String, text: String,
                      tool: String, ts: Timestamp)

/** A parsed, labelled event, the input shape of the window operators. */
final case class Event(conv_id: String, turn_idx: Int, ts: Timestamp, event_id: String,
                       label: Int)

final case class EventRow(event_id: Long, ts: LocalDateTime, user_id: Long,
                          event_type: String, value: Double, props: String)
final case class DocumentRow(doc_id: Long, text: String, lang: String, source: String,
                             n_chars: Long)
final case class EmbeddingRow(vec_id: Long, embedding: Seq[Float], label: Int)
final case class LineitemRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                             l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
                             l_discount: Double, l_tax: Double, l_returnflag: String,
                             l_linestatus: String, l_shipdate: LocalDateTime)

/** Seeded input generators. Every row is a pure function of (seed, unit
  * index), where the unit is a conversation or a table row, so the same seed
  * gives the same table whatever the partitioning. None of them reads the
  * program's `sources` module: a change there cannot change the input.
  */
object Gen extends Serializable {

  /** 2024-01-01T00:00:00Z in epoch seconds. */
  val BaseEpochSec = 1704067200L

  def rng(seed: Long, stream: Long, unit: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL + unit)

  /** A length in [lo, hi] for conversation c. Conversations 2j and 2j+1
    * draw mirrored lengths that sum to lo + hi, so the total turn count does
    * not depend on the seed, and a run's work does not either.
    */
  def pairedLength(seed: Long, stream: Long, c: Long, lo: Int, hi: Int): Int = {
    val x = lo + rng(seed, stream + 100, c / 2).nextInt(hi - lo + 1)
    if (c % 2 == 0) x else lo + hi - x
  }

  // ---- hot_sessions ------------------------------------------------------

  /** The eight hot-corpus templates: (text, role, tool) from two parameters. */
  val hotTemplates: IndexedSeq[(Int, Int) => (String, String, String)] = IndexedSeq(
    (a, b) => (s"request $a handled in $b ms", "user", null),
    (a, b) => (s"tool $a returned status $b", "tool", "search"),
    (a, b) => (s"instruction $a failed after $b retries", "tool", "executor"),
    (a, b) => (s"assistant produced $a tokens for prompt $b", "assistant", null),
    (a, b) => (s"user rated turn $a score $b", "user", null),
    (a, b) => (s"checkpoint $a saved at offset $b", "system", "ckpt"),
    (a, b) => (s"cache $a hit ratio $b percent", "system", null),
    (a, b) => (s"stream $a flushed $b bytes downstream", "system", "io"))

  /** Skewed sessions: about half of all turns use template 0; conversation
    * pairs with (c / 2) % 100 == 50 are long (300-999 turns), the others
    * 3-20 turns.
    */
  def hotSessions(spark: SparkSession, nConv: Int, seed: Long, parts: Int): Dataset[Turn] = {
    val tpl = hotTemplates
    spark.range(0L, nConv.toLong, 1L, parts).mapPartitions { it =>
      it.flatMap { boxed =>
        val c: Long = boxed
        val r = rng(seed, 1, c)
        val len =
          if ((c / 2) % 100 == 50) pairedLength(seed, 1, c, 300, 999)
          else pairedLength(seed, 1, c, 3, 20)
        var sec = BaseEpochSec + c
        Iterator.tabulate(len) { t =>
          val i = if (r.nextBoolean()) 0 else 1 + r.nextInt(tpl.size - 1)
          val (text, role, tool) = tpl(i)(r.nextInt(100000), r.nextInt(100000))
          sec += 1 + r.nextInt(120)
          Turn(s"conv$c", t, role, text, tool, new Timestamp(sec * 1000L))
        }
      }
    }(Encoders.product[Turn])
  }

  // ---- sliding_windows ---------------------------------------------------

  def eventName(e: Int): String = f"ev$e%03d"

  /** Long conversations (60-140 events) of Zipf-popular event ids, 1-60 s
    * apart; one conversation in ten is labelled 1.
    */
  def routedEvents(spark: SparkSession, nConv: Int, nEvents: Int, seed: Long,
                   parts: Int): Dataset[Event] = {
    val cum = {
      val w = (1 to nEvents).map(1.0 / _)
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    spark.range(0L, nConv.toLong, 1L, parts).mapPartitions { it =>
      it.flatMap { boxed =>
        val c: Long = boxed
        val r = rng(seed, 3, c)
        val len = pairedLength(seed, 3, c, 60, 140)
        val label = if (r.nextInt(10) == 0) 1 else 0
        var sec = BaseEpochSec + c * 7
        Iterator.tabulate(len) { t =>
          val i = java.util.Arrays.binarySearch(cum, r.nextDouble())
          sec += 1 + r.nextInt(60)
          Event(s"conv$c", t, new Timestamp(sec * 1000L),
            eventName(math.min(if (i >= 0) i else -i - 1, nEvents - 1)), label)
        }
      }
    }(Encoders.product[Event])
  }

  // ---- operator_queries --------------------------------------------------

  private val eventTypes = Array("click", "view", "signup", "purchase", "error")
  private val vocabulary = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "de", "de", "fr", "fr",
    "es", "es")

  /** `events` rows, strictly increasing ts over 30 days. */
  def events(spark: SparkSession, n: Int, seed: Long, parts: Int): Dataset[EventRow] = {
    val users = math.max(1, n / 66)
    val spacingUs = 30L * 86400L * 1000000L / n
    spark.range(0L, n.toLong, 1L, parts).map { boxed =>
      val i: Long = boxed
      val r = rng(seed, 4, i)
      val us = i * spacingUs + r.nextLong().abs % math.max(1L, spacingUs)
      val ts = LocalDateTime.ofEpochSecond(BaseEpochSec + us / 1000000L,
        ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      EventRow(i, ts, r.nextInt(users).toLong, eventTypes(r.nextInt(eventTypes.length)),
        math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }(Encoders.product[EventRow])
  }

  private def docText(seed: Long, i: Long): String = {
    val r = rng(seed, 5, i)
    Array.fill(8 + r.nextInt(90))(vocabulary(r.nextInt(vocabulary.length))).mkString(" ")
  }

  /** `documents`: random-word texts; about 4% repeat an earlier document
    * with " dup" appended and 0.5% repeat one exactly.
    */
  def documents(spark: SparkSession, n: Int, seed: Long, parts: Int): Dataset[DocumentRow] =
    spark.range(0L, n.toLong, 1L, parts).map { boxed =>
      val i: Long = boxed
      val r = rng(seed, 6, i)
      val u = r.nextInt(1000)
      val text =
        if (i >= 100 && u < 5) docText(seed, i - 1 - r.nextInt(100))
        else if (i >= 100 && u < 45) docText(seed, i - 1 - r.nextInt(100)) + " dup"
        else docText(seed, i)
      DocumentRow(i, text, langs(r.nextInt(langs.length)), s"src${i % 20}",
        text.length.toLong)
    }(Encoders.product[DocumentRow])

  /** `embeddings`: 64-d vectors around one of ten label centres; 3% are a
    * slightly perturbed copy of an earlier vector.
    */
  def embeddings(spark: SparkSession, n: Int, seed: Long, parts: Int): Dataset[EmbeddingRow] = {
    def vec(i: Long): (Array[Float], Int) = {
      val r = rng(seed, 7, i)
      val label = r.nextInt(10)
      val centre = rng(seed, 8, label.toLong)
      (Array.fill(64)((centre.nextGaussian() * 0.1 + r.nextGaussian() * 0.12).toFloat), label)
    }
    spark.range(0L, n.toLong, 1L, parts).map { boxed =>
      val i: Long = boxed
      val r = rng(seed, 9, i)
      val (v, label) =
        if (i >= 50 && r.nextInt(100) < 3) {
          val (base, l) = vec(i - 1 - r.nextInt(50))
          (base.map(x => (x + r.nextGaussian() * 0.005).toFloat), l)
        } else vec(i)
      EmbeddingRow(i, v.toSeq, label)
    }(Encoders.product[EmbeddingRow])
  }

  private val returnFlags = Array("A", "N", "R")
  private val lineStatuses = Array("O", "F")

  def lineitem(spark: SparkSession, n: Int, seed: Long, parts: Int): Dataset[LineitemRow] =
    spark.range(0L, n.toLong, 1L, parts).map { boxed =>
      val i: Long = boxed
      val r = rng(seed, 10, i)
      val qty = (1 + r.nextInt(50)).toDouble
      LineitemRow(i / 4 + 1, 1L + r.nextInt(20000), 1L + r.nextInt(1000), (i % 4).toInt + 1,
        qty, math.round(qty * (900 + r.nextInt(100000)) ) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, returnFlags(r.nextInt(3)),
        lineStatuses(r.nextInt(2)),
        LocalDateTime.of(1995, 1, 2, 0, 0).plusDays(r.nextInt(2500).toLong))
    }(Encoders.product[LineitemRow])
}
