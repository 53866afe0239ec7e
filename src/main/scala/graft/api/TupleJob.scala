package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Pangool-façade: Tuple MapReduce as a thin builder over Spark.
  *
  * Mirrors the reference API surface —
  * TupleMRBuilder.setGroupByFields / setOrderBy / setRollupFrom
  * (reference: core/src/main/java/com/datasalt/pangool/tuplemr/TupleMRBuilder.java,
  * TupleMRConfigBuilder.java, OrderBy.java) and TupleReducer /
  * TupleRollupReducer callbacks — but compiles to Spark plans.
  *
  * Prefer plain DataFrame ops (groupBy/agg/window): they stay in Catalyst
  * and whole-stage codegen. This façade exists for the cases Pangool
  * existed for: arbitrary per-group reducer logic over a *sorted* group
  * stream. It uses the classic MapReduce shape — repartition by group key +
  * sortWithinPartitions(group ++ sort) + a streaming mapPartitions — so a
  * group is never materialized in memory (Pangool's exact execution model,
  * and the scalable one at 100 TB: only the shuffle moves data, the reduce
  * is a single forward scan).
  */
final class TupleJob private[api] (
    df: DataFrame,
    groupCols: Seq[String],
    sortSpec: Seq[Column],
    partitionCols: Option[Seq[String]] = None) {

  /** Secondary sort: total order within each group (Pangool OrderBy).
    * Null placement via the Column API (`asc_nulls_first` etc.) mirrors
    * Pangool's Criteria.NullOrder.
    *
    * Custom comparators (the reference's per-field RawComparator slot,
    * core io/Criteria.java / tuplemr/OrderBy.java `setCustomComparator`):
    * re-express the comparator as a DERIVED SORT KEY — any Column
    * expression is accepted here, so `compare(a,b) = a.name
    * .compareToIgnoreCase(b.name)` becomes `orderBy(lower(col("name")))`,
    * a bit-twiddling byte comparator becomes the equivalent expression
    * over `unhex`/`conv`/etc., and a multi-level comparator becomes
    * multiple keys. This is strictly more scalable than an opaque
    * comparator: the expression is codegen'd and sorts via Spark's
    * radix/Tungsten sort instead of per-comparison virtual dispatch.
    */
  def orderBy(cols: Column*): TupleJob =
    new TupleJob(df, groupCols, cols, partitionCols)

  /** Custom partition fields (Pangool
    * TupleMRConfigBuilder.setCustomPartitionFields): must be a subset of the
    * group fields so a group never straddles partitions. Fewer partition
    * fields co-locate related groups (e.g. partition by user, group by
    * (user, day)) at the cost of coarser parallelism.
    */
  def partitionBy(cols: String*): TupleJob = {
    require(cols.forall(groupCols.contains),
      s"partition fields ${cols.mkString(",")} must be a subset of group fields ${groupCols.mkString(",")}")
    new TupleJob(df, groupCols, sortSpec, Some(cols))
  }

  private def sorted: DataFrame = {
    val part = df.repartition(partitionCols.getOrElse(groupCols).map(col): _*)
    part.sortWithinPartitions(groupCols.map(col) ++ sortSpec: _*)
  }

  /** Streaming grouped reduce (Pangool TupleReducer.reduce): the reducer
    * sees (groupKey, sorted iterator over the group's rows) and emits any
    * number of output rows with `outSchema`.
    */
  def reduce(outSchema: StructType)(
      reducer: (Row, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val gc = groupCols
    val enc = Encoders.row(outSchema)
    sorted.mapPartitions { it =>
      TupleJob.groupRuns(it, gc).flatMap { case (key, rows) => reducer(key, rows) }
    }(enc)
  }

  /** Rollup reduce (Pangool TupleRollupReducer + setRollupFrom): callbacks
    * fire when any group-prefix at depth >= rollupFromDepth opens/closes,
    * in one forward scan — hierarchical aggregation without re-shuffling.
    */
  def rollup(outSchema: StructType, rollupFromDepth: Int)(
      handler: RollupHandler): DataFrame = {
    val gc = groupCols
    val enc = Encoders.row(outSchema)
    sorted.mapPartitions { it =>
      TupleJob.rollupScan(it, gc, rollupFromDepth, handler)
    }(enc)
  }
}

/** Callbacks mirroring TupleRollupReducer.onOpenGroup/onCloseGroup/onElement
  * (reference: tuplemr/TupleRollupReducer.java). Each returns rows to emit.
  */
trait RollupHandler extends Serializable {
  def onOpenGroup(depth: Int, first: Row): Iterator[Row] = Iterator.empty
  def onElement(row: Row): Iterator[Row] = Iterator.empty
  def onCloseGroup(depth: Int, last: Row): Iterator[Row] = Iterator.empty
}

object TupleJob {

  /** Entry point (Pangool TupleMRBuilder.setGroupByFields). */
  def groupBy(df: DataFrame, cols: String*): TupleJob =
    new TupleJob(df, cols, Nil, None)

  /** Map-only job (reference: tuplemr/MapOnlyJobBuilder.java): just the
    * narrow transforms, named for API parity.
    */
  def mapOnly(df: DataFrame)(f: DataFrame => DataFrame): DataFrame = f(df)

  /** Multi-schema co-group (reference: MultipleInputsInterface.java): both
    * sides keyed on `keys` (stringified composite — injective for primitive
    * key types); reducer sees both sorted-by-input iterators, Pangool's
    * schema-order semantics.
    */
  def coGroup(left: DataFrame, right: DataFrame, keys: Seq[String],
      outSchema: StructType)(
      reducer: (Row, Iterator[Row], Iterator[Row]) => Iterator[Row]): DataFrame = {
    val enc = Encoders.row(outSchema)
    val keyOf = (r: Row) => keys.map(k => String.valueOf(r.getAs[Any](k))).mkString("\u0001")
    val l = left.groupByKey(keyOf)(Encoders.STRING)
    val r = right.groupByKey(keyOf)(Encoders.STRING)
    l.cogroup(r) { (k, li, ri) =>
      val parts = k.split('\u0001')
      reducer(Row.fromSeq(parts.toSeq), li, ri)
    }(enc)
  }

  /** Multi-schema co-group with per-schema secondary sort (reference:
    * TupleMRConfigBuilder.setSpecificOrderBy): each side's iterator arrives
    * sorted by its own order — Spark's `cogroupSorted` pushes both sorts
    * into the shuffle, so nothing is buffered in the reducer.
    */
  def coGroupSorted(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftOrder: Seq[Column], rightOrder: Seq[Column], outSchema: StructType)(
      reducer: (Row, Iterator[Row], Iterator[Row]) => Iterator[Row]): DataFrame = {
    val enc = Encoders.row(outSchema)
    val keyOf = (r: Row) => keys.map(k => String.valueOf(r.getAs[Any](k))).mkString("\u0001")
    val l = left.groupByKey(keyOf)(Encoders.STRING)
    val r = right.groupByKey(keyOf)(Encoders.STRING)
    l.cogroupSorted(r)(leftOrder: _*)(rightOrder: _*) { (k, li, ri) =>
      reducer(Row.fromSeq(k.split('\u0001').toSeq), li, ri)
    }(enc)
  }

  /** One input of an N-way co-group: a frame plus its per-schema secondary
    * sort (Pangool TupleMRConfigBuilder.setSpecificOrderBy — field name +
    * ascending, nulls-smallest like Pangool's Criteria default).
    */
  final case class CoInput(df: DataFrame, order: Seq[(String, Boolean)] = Nil)

  /** N-way multi-schema co-group — the reference's central feature beyond
    * two inputs (reference: tuplemr/TupleMRConfigBuilder.java:73
    * addIntermediateSchema ×N, :198–297 setSchemaOrder/setSpecificOrderBy;
    * behavior in core test TestMultipleSchemas.java).
    *
    * The reducer sees, per group key, ONE stream of (schemaIndex, tuple) in
    * schema order: all tuples of `schemaOrder.head`'s schema first (each
    * sorted by that schema's specific order), then the next schema, exactly
    * Pangool's heterogeneous-reduce contract.
    *
    * Execution is ONE shuffle, not N-1 nested co-groups: each input is
    * tagged with its schema rank and widened to a union row carrying N
    * nullable payload structs (only its own non-null — nulls are
    * metadata-cheap in Tungsten rows), the union repartitions on the group
    * key and sorts within partitions by (key, rank, specific orders); the
    * reduce is then a single forward scan, so a group is never buffered.
    * Rows of other schemas have all-null payload fields, which sort as ties
    * — the rank column has already separated schemas before any payload
    * field is compared.
    */
  def coGroupMulti(inputs: Seq[CoInput], keys: Seq[String],
      outSchema: StructType, schemaOrder: Seq[Int] = Nil)(
      reducer: (Row, Iterator[(Int, Row)]) => Iterator[Row]): DataFrame = {
    require(inputs.nonEmpty, "coGroupMulti needs at least one input")
    val order = if (schemaOrder.isEmpty) inputs.indices else schemaOrder
    require(order.sorted == inputs.indices,
      s"schemaOrder $order must be a permutation of ${inputs.indices}")
    val rankOf = order.zipWithIndex.toMap // schema idx -> stream position
    val tagged = inputs.zipWithIndex.map { case (in, i) =>
      val payloads = inputs.indices.map { j =>
        if (j == i) struct(in.df.columns.map(col).toIndexedSeq: _*).as(s"_p$j")
        else lit(null).cast(inputs(j).df.schema).as(s"_p$j")
      }
      in.df.select(keys.map(col) ++ (lit(rankOf(i)).as("_rk") +: payloads): _*)
    }
    val sortCols = keys.map(col) ++ (col("_rk") +: order.flatMap { j =>
      inputs(j).order.map { case (f, asc) =>
        if (asc) col(s"_p$j.$f").asc_nulls_first else col(s"_p$j.$f").desc_nulls_last
      }
    })
    val idxOfRank = order.toIndexedSeq
    val gc = keys
    val enc = Encoders.row(outSchema)
    tagged.reduce(_.union(_))
      .repartition(keys.map(col): _*)
      .sortWithinPartitions(sortCols: _*)
      .mapPartitions { it =>
        groupRuns(it, gc).flatMap { case (key, rows) =>
          reducer(key, rows.map { r =>
            val idx = idxOfRank(r.getAs[Int]("_rk"))
            (idx, r.getAs[Row](s"_p$idx"))
          })
        }
      }(enc)
  }

  /** Lazily group a key-sorted iterator into (key, run iterator) pairs.
    * The run iterator MUST be fully consumed by the caller before the next
    * run is requested (single forward scan, zero buffering) — same contract
    * as Hadoop's reduce values iterator.
    */
  private[api] def groupRuns(it: Iterator[Row], groupCols: Seq[String]): Iterator[(Row, Iterator[Row])] = {
    val buf = it.buffered
    new Iterator[(Row, Iterator[Row])] {
      private var lastRun: Iterator[Row] = Iterator.empty
      def hasNext: Boolean = { while (lastRun.hasNext) lastRun.next(); buf.hasNext }
      def next(): (Row, Iterator[Row]) = {
        while (lastRun.hasNext) lastRun.next()
        val keyVals = groupCols.map(c => buf.head.getAs[Any](c))
        val run = new Iterator[Row] {
          def hasNext: Boolean =
            buf.hasNext && groupCols.map(c => buf.head.getAs[Any](c)) == keyVals
          def next(): Row = buf.next()
        }
        lastRun = run
        (Row.fromSeq(keyVals), run)
      }
    }
  }

  /** One forward scan emitting open/element/close callbacks at every depth
    * in [rollupFrom, groupCols.size-1], exactly Pangool's RollupReducer
    * event order (reference: tuplemr/mapred/RollupReducer.java).
    */
  private[api] def rollupScan(it: Iterator[Row], groupCols: Seq[String],
      rollupFrom: Int, handler: RollupHandler): Iterator[Row] = {
    val depths = rollupFrom until groupCols.size
    var prev: Row = null
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    def keyPrefix(r: Row, d: Int): Seq[Any] = groupCols.take(d + 1).map(r.getAs[Any](_))
    it.foreach { row =>
      if (prev == null) depths.foreach(d => out ++= handler.onOpenGroup(d, row))
      else {
        // find shallowest depth where the prefix changed
        val changed = depths.find(d => keyPrefix(prev, d) != keyPrefix(row, d))
        changed.foreach { c =>
          depths.reverse.filter(_ >= c).foreach(d => out ++= handler.onCloseGroup(d, prev))
          depths.filter(_ >= c).foreach(d => out ++= handler.onOpenGroup(d, row))
        }
      }
      out ++= handler.onElement(row)
      prev = row
    }
    if (prev != null) depths.reverse.foreach(d => out ++= handler.onCloseGroup(d, prev))
    out.iterator
  }
}
