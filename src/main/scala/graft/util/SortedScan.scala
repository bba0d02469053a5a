package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one shape of graft's order-dependent per-key algorithms — the
  * reference's per-user loops (sliding staypoints, positionfixes.py:478-535;
  * the tour stack, trips.py:191-359) as one shuffle and one streaming pass:
  * hash-repartition on `key`, sort each partition by `key ++ order`, and
  * hand each run of equal key to `scan` once, encoding its rows with
  * `schema`.
  *
  *  - A run ends where the key changes under Scala `==` on the key values,
  *    so null keys form one run and boxed numbers compare by value.
  *  - Runs stream: the helper never buffers one. A scan that needs its
  *    whole run collects it; rows a scan leaves unread are skipped before
  *    the next run starts.
  *  - Per-run state lives in the scan's closure, so it cannot leak from
  *    one key to the next. A tail flush is code that runs after the run's
  *    rows, e.g. `rows.flatMap(step) ++ finish()`.
  *  - Within a run, output rows come in the scan's own order.
  */
object SortedScan {

  def apply(df: DataFrame, key: Seq[String], order: Seq[String], schema: StructType)(
      scan: Iterator[Row] => Iterator[Row]): DataFrame = {
    val keyIdx = key.map(df.schema.fieldIndex).toArray
    df.repartition(key.map(col): _*)
      .sortWithinPartitions((key ++ order).map(col): _*)
      .mapPartitions(rows => new Runs(rows, keyIdx).flatMap(scan))(RowEncoder.encoderFor(schema))
      .toDF()
  }

  /** A sorted partition as its runs of equal key. The partition holds one
    * row of lookahead, which each run reads through until the key
    * changes; moving to the next run first skips what is left of the
    * previous one.
    */
  private final class Runs(rows: Iterator[Row], keyIdx: Array[Int]) extends Iterator[Iterator[Row]] {
    private var head: Row = null // the next row, not yet handed to a run
    private var run: Run = null

    private def peek(): Row = {
      if (head == null && rows.hasNext) head = rows.next()
      head
    }

    def hasNext: Boolean = {
      if (run != null) run.skipRest()
      peek() != null
    }

    def next(): Iterator[Row] = {
      if (!hasNext) throw new NoSuchElementException
      run = new Run(keyIdx.map(head.get))
      run
    }

    private final class Run(key: Array[Any]) extends Iterator[Row] {
      private var ready = false // the lookahead is checked and in this run
      private var ended = false

      private def inRun(r: Row): Boolean = {
        var i = 0
        while (i < keyIdx.length && r.get(keyIdx(i)) == key(i)) i += 1
        i == keyIdx.length
      }

      def hasNext: Boolean = ready || !ended && {
        val r = peek()
        ready = r != null && inRun(r)
        ended = !ready
        ready
      }

      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        ready = false
        val r = head
        head = null
        r
      }

      def skipRest(): Unit = while (hasNext) next()
    }
  }
}
