package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Mergeable-sketch membership surface: Spark's internal Bloom filter
  * expressions (the machinery behind `InjectRuntimeFilter`,
  * `BloomFilterAggregate` / `BloomFilterMightContain`) exposed as Columns,
  * so operators can build the sketch distributedly (partial sketches OR-
  * merged map-side, the driver only ever sees the serialized filter) and
  * probe it in codegen.
  *
  * Scale notes (the reason this exists): a 100 TB accepted corpus has
  * O(10^10) digests — too big to broadcast as a join build side, but its
  * Bloom filter at ~1% fpp is a few GB and SHARDABLE by digest prefix; at
  * the single-filter sizes Spark supports (capped by
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`, default 8 MB ≈
  * 9 M items at 3% fpp) the sketch rides a scalar subquery and reaches
  * every executor once. Raise the two conf caps
  * (`...bloomFilter.maxExpectedNumItems`, `...bloomFilter.maxNumBits`)
  * for bigger reference sets — `BloomFilterAggregate` silently clamps its
  * arguments to them.
  */
object sketch {

  /** Aggregate a Bloom filter over a LONG column (hash strings/binary with
    * `xxhash64` first — the same input convention Spark's runtime filter
    * uses). Returns the serialized filter as BINARY (one row).
    *
    * `expectedItems`/`numBits` are clamped to the session's runtime-filter
    * conf caps; `numBits <= 0` derives the optimal width for `fpp`.
    */
  def bloom_filter_agg(hashed: Column, expectedItems: Long, fpp: Double = 0.03, numBits: Long = -1L): Column = {
    val bits =
      if (numBits > 0) numBits
      else math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong.max(64L)
    Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(hashed),
        Bridge.expression(lit(expectedItems)),
        Bridge.expression(lit(bits))
      ).toAggregateExpression()
    )
  }

  /** Probe a serialized Bloom filter (foldable or scalar-subquery column —
    * e.g. `df.select(bloom_filter_agg(...)).scalar()`) with a LONG hash.
    * NULL-safe at the caller: an empty aggregate yields a NULL filter and
    * the probe then returns NULL, so gate with `coalesce(..., lit(false))`.
    */
  def might_contain(bloom: Column, hashed: Column): Column =
    Bridge.column(
      BloomFilterMightContain(Bridge.expression(bloom), Bridge.expression(hashed))
    )

  /** Build a Bloom filter over a LONG column distributedly and hand it
    * back as a BROADCAST — the >20 MB regime. The scalar-subquery filter
    * above becomes a plan LITERAL serialized into EVERY task closure:
    * measured at 5 M docs, a ~100 MB filter for a 96 M-gram reference
    * died in task deserialization ("unread block data" under GC-locker
    * pressure, ROUND_NOTES r9). A broadcast ships once per EXECUTOR via
    * torrent blocks instead of once per task, which is the correct
    * distribution for sketches from ~20 MB up to GBs.
    *
    * Each partition fills its OWN filter (never ship an empty full-size
    * zero value in a closure — same trap), partials merge as task
    * RESULTS under `treeReduce`. EAGER: runs one job at call time (the
    * ivfTrain bounded-model pattern). Returns None on an empty input.
    */
  def broadcastBloom(
      df: org.apache.spark.sql.DataFrame,
      hashed: Column,
      expectedItems: Long,
      fpp: Double = 0.03
  ): Option[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]] = {
    import org.apache.spark.util.sketch.BloomFilter
    val rdd = df
      .select(hashed.as("h"))
      .filter(col("h").isNotNull)
      .rdd
      .map(_.getLong(0))
    val partials = rdd.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val f = BloomFilter.create(expectedItems, fpp)
        it.foreach(f.putLong)
        Iterator.single(f)
      }
    }
    if (partials.isEmpty()) None
    else
      Some(
        df.sparkSession.sparkContext.broadcast(
          partials.treeReduce((a, b) => { a.mergeInPlace(b); a }, depth = 2)
        )
      )
  }

  /** Probe a [[broadcastBloom]] filter in codegen: the expression carries
    * only the (tiny, serializable) broadcast HANDLE; executors fetch the
    * filter blocks once and every task reads the same local copy.
    */
  case class BloomMightContainBC(
      bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      child: org.apache.spark.sql.catalyst.expressions.Expression
  ) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    import org.apache.spark.sql.types._
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(h: Any): Any = bf.value.mightContainLong(h.asInstanceOf[Long])
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("bloomBc", bf,
        classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
      nullSafeCodeGen(ctx, ev, h =>
        s"${ev.value} = ((org.apache.spark.util.sketch.BloomFilter) $ref.value()).mightContainLong($h);")
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression
    ): BloomMightContainBC = copy(child = c)
  }

  /** Column surface of [[BloomMightContainBC]]. */
  def might_contain_bc(
      bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      hashed: Column
  ): Column =
    Bridge.column(BloomMightContainBC(bf, Bridge.expression(hashed)))

  /** Exact membership in a BROADCAST set of Catalyst values: the exact
    * twin of [[might_contain_bc]] for sets small enough to hold on the
    * driver (a micro-batch's digests or row ids). The expression carries
    * only the broadcast handle, so the set ships once per executor rather
    * than in every task closure the way an `isin` literal would. NULL in,
    * NULL out (a filter drops it). Build the set with [[broadcastSet]].
    */
  case class InBroadcastSet(
      set: org.apache.spark.broadcast.Broadcast[PackedSet],
      child: org.apache.spark.sql.catalyst.expressions.Expression
  ) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.types._
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(v: Any): Any = set.value.values.contains(v)
    override def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
    ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("setBc", set, classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
      nullSafeCodeGen(ctx, ev, v => {
        val boxed =
          if (CodeGenerator.isPrimitiveType(child.dataType)) s"${CodeGenerator.boxedType(child.dataType)}.valueOf($v)"
          else v
        s"${ev.value} = ((${classOf[PackedSet].getName}) $ref.value()).values().contains($boxed);"
      })
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression
    ): InBroadcastSet = copy(child = c)
  }

  /** A set of Catalyst values as [[broadcastSet]] ships it: the values
    * as one [[org.apache.spark.sql.graftbridge.Bridge.packRows]] array of
    * one-column rows, so the broadcast serializes and size-estimates one
    * array instead of an object per value. Each JVM that probes it builds
    * [[values]] from the array once, on its first probe.
    */
  final class PackedSet(dataType: org.apache.spark.sql.types.DataType, packed: Array[Byte]) extends Serializable {

    /** The set [[InBroadcastSet]] probes: a hash set for strings,
      * integral, boolean and date/time values, an ordering-backed tree set
      * otherwise (binary, decimals, floats, structs).
      */
    @transient lazy val values: java.util.Set[Any] = {
      import org.apache.spark.sql.types._
      val set: java.util.Set[Any] = dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType | BooleanType | DateType | TimestampType |
            TimestampNTZType =>
          new java.util.HashSet[Any]()
        case _ => new java.util.TreeSet[Any](org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dataType))
      }
      Bridge.unpackRows(packed, 1).foreach(r => set.add(r.get(0, dataType)))
      set
    }
  }

  /** Broadcast `values` (Catalyst-internal values of `dataType`, as an
    * `InternalRow` holds them: `UTF8String`, boxed primitives, `Decimal`)
    * as the set [[in_broadcast_set]] probes ([[PackedSet]]). Not an
    * action: no job runs. `destroy()` it once the probing query has run.
    */
  def broadcastSet(
      spark: org.apache.spark.sql.SparkSession,
      dataType: org.apache.spark.sql.types.DataType,
      values: Iterable[Any]
  ): org.apache.spark.broadcast.Broadcast[PackedSet] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{StructField, StructType}
    // NULL never matches (the probe is null-intolerant), so it is not stored
    val rows = values.iterator.filter(_ != null).map(v => InternalRow(v))
    val packed = Bridge.packRows(rows, StructType(Seq(StructField("v", dataType))))
    spark.sparkContext.broadcast(new PackedSet(dataType, packed))
  }

  /** Column surface of [[InBroadcastSet]]. */
  def in_broadcast_set(set: org.apache.spark.broadcast.Broadcast[PackedSet], c: Column): Column =
    Bridge.column(InBroadcastSet(set, Bridge.expression(c)))
}
