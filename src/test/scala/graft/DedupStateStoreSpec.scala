package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.streaming.{DedupStateStore, StreamingDedup, TransactionLogDedupState}

/** A [[DedupStateStore]] that opens a FRESH instance on its dir for every
  * operation — a driver restart between every call, so each read, append
  * and compaction starts from the on-disk log (newest checkpoint plus
  * trailing commits), never from an instance's cached snapshot.
  */
final class ColdReopenStore(open: () => DedupStateStore) extends DedupStateStore {
  override def read(batchId: Long, buckets: Seq[Int]): DataFrame = open().read(batchId, buckets)
  override def append(df: DataFrame, batchId: Long): Unit = open().append(df, batchId)
  override def compact(upTo: Long, afterPublish: () => Unit): Unit =
    open().compact(upTo, afterPublish)
}

object ColdReopenStore {
  def of(factory: StreamingDedup.StateStoreFactory): StreamingDedup.StateStoreFactory =
    (s, dir, schema, keys) => new ColdReopenStore(() => factory(s, dir, schema, keys))
}

/** Direct contract tests of [[DedupStateStore]] on its store,
  * [[TransactionLogDedupState]]: append idempotency, snapshot visibility,
  * bucket pruning, compaction folding, and crash-replay convergence,
  * including a crash that lands after the increments are removed but
  * before a folded OLDER GENERATION is — the retry's nothing-pending
  * early return must still replay the vacuum, not strand the duplicate
  * copy forever. Every variant opens the store differently (a warm
  * instance, a cold instance per operation, a one-partition session) and
  * runs the same assertions. Physical introspection goes through the
  * on-disk test hooks, which need no store instance.
  */
abstract class DedupStateStoreContract extends SparkSpec {
  init()

  def variant: String
  /** Open the store `factory` builds on `dir`, the variant's way. */
  def open(factory: StreamingDedup.StateStoreFactory, dir: String, schema: StructType): DedupStateStore

  private def live(dir: String): Seq[Long] = TransactionLogDedupState.liveBatches(dir)
  /** Simulate a crash interrupting the vacuum: drop ONE source. */
  private def remove(dir: String, batch: Long): Unit =
    TransactionLogDedupState.dropBatch(dir, batch)

  private val dataSchema = new StructType().add("k", StringType).add("v", LongType)
  private val cntSchema = new StructType().add("k", StringType).add("cnt", LongType)

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-statestore-").toString + "/s"

  private def mk(dir: String): DedupStateStore =
    open(TransactionLogDedupState.factory, dir, dataSchema)

  private def mkSum(dir: String): DedupStateStore =
    open(TransactionLogDedupState.sumFactory, dir, cntSchema)

  private def rows(prefix: String, n: Int, pb: Int = 0): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (s"$prefix$i", i.toLong, pb)).toDF("k", "v", "pb")
  }

  private def counts(kcs: (String, Long, Int)*): DataFrame = {
    import spark.implicits._
    kcs.toDF("k", "cnt", "pb")
  }

  private def keys(df: DataFrame): Seq[String] =
    df.select("k").collect().map(_.getString(0)).toSeq.sorted

  private def summed(df: DataFrame): Map[String, Long] =
    df.groupBy("k").agg(org.apache.spark.sql.functions.sum("cnt").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def listing(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.list(java.nio.file.Paths.get(dir))) {
      _.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    }
  }

  test(s"[$variant] append is idempotent: a retried batch replaces its failed attempt") {
    val dir = freshDir(); val st = mk(dir)
    st.append(rows("a", 3), 0L)
    st.append(rows("b", 2), 0L) // retry of batch 0 with different content
    assert(keys(st.read(1L, Seq(0))) == Seq("b1", "b2"))
  }

  test(s"[$variant] state survives close: the on-disk hook and a second instance see the writer's commits") {
    val dir = freshDir(); val writer = mk(dir)
    writer.append(rows("a", 2), 0L)
    writer.append(rows("b", 2), 1L)
    writer.compact(2L)
    writer.append(rows("c", 2, pb = 1), 2L)
    writer.append(rows("d", 1), 2L) // retry of batch 2 supersedes its first attempt
    val written = keys(writer.read(3L, Seq(0, 1)))
    assert(written == Seq("a1", "a2", "b1", "b2", "d1"))
    writer.close()
    // no instance holds the dir any more: the hook reads _log and data/
    assert(live(dir) == Seq(-2L, 2L))
    val reader = mk(dir)
    assert(keys(reader.read(3L, Seq(0, 1))) == written)
    // the reader's own commit is visible through the hook as well
    reader.append(rows("e", 1), 3L)
    assert(live(dir) == Seq(-2L, 2L, 3L))
  }

  test(s"[$variant] read hides in-flight and later batches and prunes by bucket") {
    val dir = freshDir(); val st = mk(dir)
    st.append(rows("a", 2, pb = 0), 0L)
    st.append(rows("b", 2, pb = 1), 1L)
    st.append(rows("c", 2, pb = 0), 2L)
    // batch 2 reading its own visibility frontier: sees 0 and 1, not 2
    assert(keys(st.read(2L, Seq(0, 1))) == Seq("a1", "a2", "b1", "b2"))
    // bucket pruning
    assert(keys(st.read(3L, Seq(1))) == Seq("b1", "b2"))
  }

  test(s"[$variant] compact folds committed increments into one visible generation") {
    val dir = freshDir(); val st = mk(dir)
    (0 to 3).foreach(b => st.append(rows(s"x$b-", 2), b))
    st.compact(4L)
    assert(live(dir).forall(_ < 0), s"increments survived: ${live(dir)}")
    assert(keys(st.read(10L, Seq(0))).size == 8) // all rows, exactly once
  }

  test(s"[$variant] sum-fold store: summed reads invariant under compaction") {
    val st = mkSum(freshDir())
    // the SAME key carries increments in several batches — the set-fold
    // would keep one arbitrary row and silently shrink the sum
    st.append(counts(("hot", 5L, 0), ("b0", 1L, 1)), 0L)
    st.append(counts(("hot", 7L, 0), ("b1", 2L, 1)), 1L)
    def sums(frontier: Long) = summed(st.read(frontier, Seq(0, 1)))
    val before = sums(2L)
    assert(before == Map("hot" -> 12L, "b0" -> 1L, "b1" -> 2L))
    st.compact(2L)
    assert(sums(2L) == before, "compaction changed summed reads")
    // a further increment + a refolding compaction (generation + increment)
    st.append(counts(("hot", 3L, 0)), 2L)
    st.compact(3L)
    assert(sums(3L) == Map("hot" -> 15L, "b0" -> 1L, "b1" -> 2L))
  }

  test(s"[$variant] sum-fold store: a retried increment replaces its failed attempt, never adds to it") {
    val dir = freshDir(); val st = mkSum(dir)
    st.append(counts(("hot", 5L, 0), ("a", 1L, 1)), 0L)
    st.append(counts(("hot", 3L, 0)), 1L)
    st.append(counts(("hot", 4L, 0), ("b", 2L, 1)), 1L) // retry of batch 1
    val expected = Map("hot" -> 9L, "a" -> 1L, "b" -> 2L)
    assert(summed(st.read(2L, Seq(0, 1))) == expected)
    st.compact(2L)
    assert(summed(st.read(2L, Seq(0, 1))) == expected, "compaction folded the failed attempt")
    assert(summed(mkSum(dir).read(2L, Seq(0, 1))) == expected, "a fresh instance disagrees")
  }

  test(s"[$variant] an empty increment commits nothing visible, and a retry may empty a batch") {
    val dir = freshDir(); val st = mk(dir)
    st.append(rows("a", 2), 0L)
    st.append(rows("x", 0), 1L)
    assert(keys(st.read(2L, Seq(0))) == Seq("a1", "a2"))
    st.append(rows("b", 0), 0L) // retry of batch 0 that produced no rows
    assert(keys(st.read(2L, Seq(0))).isEmpty, "the failed attempt's rows stayed visible")
    st.append(rows("c", 1), 2L)
    st.compact(3L)
    assert(live(dir).forall(_ < 0), s"increments or tombstones survived: ${live(dir)}")
    assert(keys(st.read(3L, Seq(0))) == Seq("c1"))
  }

  test(s"[$variant] a pb outside the stats domain fails the append and commits nothing") {
    val dir = freshDir(); val st = mk(dir)
    st.append(rows("a", 2), 0L)
    val logBefore = listing(s"$dir/_log")
    val failed = intercept[Exception](st.append(rows("z", 2, pb = 1 << 20), 1L))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(failed).exists(_.contains("out of stats domain")), msgs(failed))
    assert(listing(s"$dir/_log") == logBefore, "the failed append wrote to the log")
    assert(listing(s"$dir/data").forall(_.endsWith(".parquet")),
      s"the failed append left staging behind: ${listing(s"$dir/data")}")
    assert(live(dir) == Seq(0L))
    st.append(rows("b", 1), 1L) // the batch's retry commits normally
    assert(keys(st.read(2L, Seq(0))) == Seq("a1", "a2", "b1"))
  }

  test(s"[$variant] a cold reader past a log checkpoint sees the writer's state; covered commits are gone") {
    val dir = freshDir(); val writer = mk(dir)
    // a checkpoint lands every 8 commits: 11 appends, a compaction and a
    // retry make 13, so a cold reader seeds from the checkpoint and replays
    // the trailing 5
    (0 to 10).foreach(b => writer.append(rows(s"x$b-", 1, pb = b % 2), b))
    writer.compact(6L)
    writer.append(rows("y", 2, pb = 1), 10L)
    val expected = keys(writer.read(11L, Seq(0, 1)))
    assert(expected.size == 12) // x0-1 … x9-1, y1, y2
    val log = listing(s"$dir/_log")
    val ckpts = log.filter(_.endsWith(".ckpt"))
    assert(ckpts.size == 1, s"expected one checkpoint: $log")
    val covered = ckpts.head.stripSuffix(".ckpt").toLong
    assert(log.filter(_.endsWith(".json")).forall(_.stripSuffix(".json").toLong > covered),
      s"commits the checkpoint covers were kept: $log")
    assert(keys(mk(dir).read(11L, Seq(0, 1))) == expected)
    assert(keys(mk(dir).read(11L, Seq(1))) == Seq("x1-1", "x3-1", "x5-1", "x7-1", "x9-1", "y1", "y2"))
  }

  test(s"[$variant] crash between publish and removal converges on retry") {
    val dir = freshDir(); val st = mk(dir)
    (0 to 1).foreach(b => st.append(rows(s"x$b-", 2), b))
    intercept[RuntimeException] {
      st.compact(2L, () => throw new RuntimeException("injected"))
    }
    // generation visible AND sources still present (duplicated window)
    assert(live(dir).contains(-2L) && live(dir).exists(_ >= 0))
    st.compact(2L) // retry
    assert(live(dir) == Seq(-2L), s"retry did not converge: ${live(dir)}")
    assert(keys(st.read(10L, Seq(0))).size == 4)
  }

  test(s"[$variant] manifest replay removes a folded older generation stranded by a partial crash") {
    val dir = freshDir(); val st = mk(dir)
    // small early batches → generation -2 (2 distinct keys, small)
    st.append(rows("e", 1), 0L)
    st.append(rows("f", 1), 1L)
    st.compact(2L)
    assert(live(dir).sorted == Seq(-2L))
    // bigger later batches so the ladder refolds generation -2 into -4
    st.append(rows("g", 4), 2L)
    st.append(rows("h", 4), 3L)
    intercept[RuntimeException] {
      st.compact(4L, () => throw new RuntimeException("injected"))
    }
    assert(live(dir).contains(-4L) && live(dir).contains(-2L))
    // the ADVICE crash shape: removal loop got through the increments but
    // not the folded generation before dying
    remove(dir, 2L)
    remove(dir, 3L)
    // retry sees nothing pending — the early return must replay the
    // manifest and remove the stranded -2, not leave it duplicated forever
    st.compact(4L)
    assert(live(dir) == Seq(-4L), s"stranded generation not reclaimed: ${live(dir)}")
    assert(keys(st.read(10L, Seq(0))).size == 10) // e1 f1 g1-4 h1-4, once each
  }
}

/** The store as a stream holds it: one warm instance per dir. */
class TransactionLogDedupStateSpec extends DedupStateStoreContract {
  override def variant = "txnlog"
  override def open(factory: StreamingDedup.StateStoreFactory, dir: String, schema: StructType) =
    factory(spark, dir, schema, Seq("k"))
}

/** Every operation on a fresh instance: each obligation must hold from the
  * on-disk log alone.
  */
class ColdReopenDedupStateSpec extends DedupStateStoreContract {
  override def variant = "txnlog-cold"
  override def open(factory: StreamingDedup.StateStoreFactory, dir: String, schema: StructType) =
    ColdReopenStore.of(factory)(spark, dir, schema, Seq("k"))
}

/** A session with ONE shuffle partition: every staged file's layout stats
  * cover the whole pb domain, so no file is ever skipped and bucket
  * pruning rests on the `pb` predicate alone.
  */
class SinglePartitionDedupStateSpec extends DedupStateStoreContract {
  private lazy val onePartition: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s
  }
  override def variant = "txnlog-1part"
  override def open(factory: StreamingDedup.StateStoreFactory, dir: String, schema: StructType) =
    factory(onePartition, dir, schema, Seq("k"))
}

/** Model-based property fuzz: a seeded random sequence of appends, retried
  * appends, compactions, crashed compactions and cold reopens, applied to
  * the store AND to a plain-Scala model of the contract — a map from batch
  * id to rows, `batch < frontier` visibility, retry-replaces. Every step
  * reads the store at a random frontier the contract covers (at or above
  * the last compaction's `upTo`) and a random bucket subset, and compares:
  *
  *   - a SET store (re-asserted facts: a key's row is a function of the
  *     key, keys recur across batches) must show the model's distinct
  *     rows — folding may drop copies, never a row;
  *   - a SUM store (per-batch counts per key) must show the model's
  *     per-key sums EXACTLY — compaction SUMs, so a dropped or doubled
  *     increment shows.
  *
  * Reopening a fresh instance on the same dir is a driver crash-resume:
  * the new instance seeds from the newest log checkpoint plus the
  * trailing commits (a checkpoint lands every 8 commits; appends are
  * 3 of the 7 ops, so each run crosses one).
  */
class DedupStateStoreFuzzSpec extends SparkSpec {
  init()
  import spark.implicits._

  private type Row3 = (String, Long, Int)
  private val buckets = 4
  private val schema = new StructType().add("k", StringType).add("v", LongType)

  /** One attempt's rows: 1-4 distinct keys of 10 (so keys recur across
    * batches); `pb` is a function of the key, as every consumer's is.
    */
  private def rowsFor(seed: Long, id: Long, attempt: Int, sum: Boolean): Seq[Row3] = {
    val r = new scala.util.Random(seed * 1000003L + id * 101L + attempt)
    Seq.fill(1 + r.nextInt(4))(s"k${r.nextInt(10)}").distinct.map { k =>
      val pb = math.floorMod(k.hashCode, buckets)
      (k, if (sum) 1L + r.nextInt(9) else k.hashCode.toLong, pb)
    }
  }

  private def fuzz(seed: Long, sum: Boolean, steps: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzz-").toString + "/s"
    val factory =
      if (sum) TransactionLogDedupState.sumFactory else TransactionLogDedupState.factory
    def open(): DedupStateStore = factory(spark, dir, schema, Seq("k"))
    var st = open()
    val model = collection.mutable.Map[Long, Seq[Row3]]()
    val rnd = new scala.util.Random(seed)
    var next = 0L // next fresh batch id; ids 0 until next all exist
    var folded = 0L // ids below this are folded: never retried or read below
    var attempt = 0

    def append(id: Long): Unit = {
      attempt += 1
      val rows = rowsFor(seed, id, attempt, sum)
      st.append(rows.toDF("k", "v", "pb"), id)
      model(id) = rows
    }
    def view(rows: Seq[Row3]): Seq[(String, Long)] =
      if (sum) rows.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
      else rows.map(r => (r._1, r._2)).distinct.sorted

    (1 to steps).foreach { step =>
      val op = rnd.nextInt(7)
      op match {
        case 0 | 1 | 2 => append(next); next += 1
        case 3 => // retry of an unfolded batch (the in-flight one, or any later than the fold)
          if (next > folded) append(rnd.between(folded, next))
        case 4 | 5 if next > 0 => // compaction; op 5 crashes between publish and vacuum
          val upTo = rnd.between(math.max(folded, 1L), next + 1)
          if (op == 4) st.compact(upTo)
          else
            try st.compact(upTo, () => throw new IllegalStateException("fuzz crash"))
            catch { case _: IllegalStateException => () }
          folded = upTo
        case _ => st = open() // crash-resume: the old instance is abandoned
      }
      val frontier = rnd.between(folded, next + 1)
      val bs = (0 until buckets).filter(_ => rnd.nextBoolean())
      val got = st.read(frontier, bs).select("k", "v", "pb").as[Row3].collect().toSeq
      val expected = model.toSeq.collect { case (b, rows) if b < frontier => rows }.flatten
        .filter(r => bs.contains(r._3))
      assert(view(got) == view(expected),
        s"seed $seed step $step op $op: frontier $frontier buckets $bs (folded < $folded)")
    }
    // a clean compaction (a vacuum alone when nothing is pending)
    // converges storage: only generations stay on disk
    if (next > 0) st.compact(next)
    assert(TransactionLogDedupState.liveBatches(dir).forall(_ < 0),
      s"seed $seed: increments or tombstones left: ${TransactionLogDedupState.liveBatches(dir)}")
    val all = open().read(next, 0 until buckets).select("k", "v", "pb").as[Row3].collect().toSeq
    assert(view(all) == view(model.values.flatten.toSeq), s"seed $seed: cold read after convergence")
  }

  for (seed <- Seq(20260813L, 7L)) {
    test(s"set store matches the model under a random op sequence (seed $seed)") {
      fuzz(seed, sum = false, steps = 16)
    }
    test(s"sum store matches the model under a random op sequence (seed $seed)") {
      fuzz(seed, sum = true, steps = 16)
    }
  }
}
