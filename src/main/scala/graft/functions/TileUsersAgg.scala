package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core.Codec

/**
 * Tile-grain exact heatmap aggregate: ONE buffer per z14 TILE carrying every
 * user's pixel run over it — the engine's answer to the pixel-row shuffle
 * bottleneck.
 *
 * A pixel-grain count-distinct exchanges one row per distinct (pixel, user)
 * per map partition; at sf0.1 that is ~23.5M rows because tracks land
 * randomly, so map-side combine barely collapses anything. Grouping by TILE
 * instead (≈740 keys) exchanges one partial buffer per (map partition ×
 * tile) — hundreds of rows, each a compact binary blob of 8-byte run
 * entries. The buffer maps user → one pixel-ascending, pixel-unique run, so
 * (pixel, user) de-duplication is a sorted-run merge (`mergeRuns`) and
 * nothing is hashed per pixel. This reproduces the reference's own unit of
 * work (each user's own tile summed into the global one —
 * `/root/reference/src/HeatMap.Tiles/HeatMapTile.cs:17-83`,
 * `Worker.cs:167-222`) as a distributive Spark aggregate: update folds a
 * track's per-tile pixel run in, merge unions buffers, eval sorts the
 * tile's runs once and emits its cells.
 *
 * Input: (user_id: Long, pixels: Array[Long]) with each element packing
 * (localPix << 32 | trips) — see `Rasterize.tileVisits`.
 * Output: the `Schemas.TileCells` layout, three parallel primitive arrays
 * struct<cells: array<int>, users: array<bigint>, trips: array<bigint>>
 * with `cells` (the local pixels) ascending — no per-cell rows.
 */
final class TileBuffer {
  /** user → one pixel-ascending, pixel-unique run (localPix << 32 | trips). */
  val runs = new scala.collection.mutable.LongMap[Array[Long]]()
  /** Entries over all runs. */
  var entries: Int = 0

  /** Fold in one normalized run; a user already present gets the two runs
    * merged. The buffer keeps `run` itself. */
  private def put(user: Long, run: Array[Long]): Unit = {
    val old = runs.getOrNull(user)
    if (old == null) { runs.update(user, run); entries += run.length }
    else {
      val merged = TileBuffer.mergeRuns(old, run)
      runs.update(user, merged); entries += merged.length - old.length
    }
  }

  /** Fold one input row: a user's pixel run over this tile, in any order
    * and with repeated pixels allowed (normalized in place). */
  def addRow(user: Long, packed: Array[Long]): Unit =
    if (packed.length > 0) put(user, TileBuffer.normalize(packed))

  def mergeFrom(other: TileBuffer): Unit = other.runs.foreachEntry(put)

  /** The tile's cells as three parallel arrays — local pixel (ascending),
    * distinct users, trip sum — from one primitive sort of the concatenated
    * runs: a run holds a pixel at most once, so a pixel's entries number
    * its distinct users. */
  def cells(): (Array[Int], Array[Long], Array[Long]) = {
    val all = new Array[Long](entries)
    var o = 0
    runs.foreachValue { r => System.arraycopy(r, 0, all, o, r.length); o += r.length }
    java.util.Arrays.sort(all)
    var m = 0
    var i = 0
    while (i < all.length) {
      if (i == 0 || (all(i) >>> 32) != (all(i - 1) >>> 32)) m += 1
      i += 1
    }
    val pix = new Array[Int](m); val users = new Array[Long](m); val trips = new Array[Long](m)
    var c = -1
    i = 0
    while (i < all.length) {
      val p = (all(i) >>> 32).toInt
      if (c < 0 || pix(c) != p) { c += 1; pix(c) = p }
      users(c) += 1
      trips(c) += all(i) & Codec.U32Max
      i += 1
    }
    (pix, users, trips)
  }

  /** `(user, len, run)` records after the user count. */
  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 12 * runs.size + 8 * entries)
    bb.putInt(runs.size)
    runs.foreachEntry { (user, run) =>
      bb.putLong(user); bb.putInt(run.length)
      var i = 0
      while (i < run.length) { bb.putLong(run(i)); i += 1 }
    }
    bb.array()
  }
}

object TileBuffer {
  def deserialize(bytes: Array[Byte]): TileBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TileBuffer()
    var u = bb.getInt
    while (u > 0) {
      val user = bb.getLong
      val run = new Array[Long](bb.getInt)
      var i = 0
      while (i < run.length) { run(i) = bb.getLong; i += 1 }
      buf.runs.update(user, run)
      buf.entries += run.length
      u -= 1
    }
    buf
  }

  /** A3: merge two pixel-ascending, pixel-unique packed runs (localPix << 32
    * | trips). A pixel in both runs gets the sum of its trips, saturating at
    * u32 max as the reference does on merge (Diffs/HeatMapExtensions.cs:113-117);
    * the clamp also keeps trips inside the packed low 32 bits. */
  def mergeRuns(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var n = 0
    while (i < a.length || j < b.length) {
      val pa = if (i < a.length) a(i) >>> 32 else Long.MaxValue
      val pb = if (j < b.length) b(j) >>> 32 else Long.MaxValue
      out(n) =
        if (pa < pb) { i += 1; a(i - 1) }
        else if (pb < pa) { j += 1; b(j - 1) }
        else {
          i += 1; j += 1
          (pa << 32) | Codec.saturatingAddU32(a(i - 1) & Codec.U32Max, b(j - 1) & Codec.U32Max)
        }
      n += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** `run` as one pixel-ascending, pixel-unique run. A run that already is
    * one (a linear check) is returned as is; otherwise it is sorted in place
    * and repeated pixels are combined with the u32 saturating add. */
  def normalize(run: Array[Long]): Array[Long] = {
    var i = 1
    while (i < run.length && (run(i - 1) >>> 32) < (run(i) >>> 32)) i += 1
    if (i >= run.length) return run
    java.util.Arrays.sort(run)
    var n = 1
    i = 1
    while (i < run.length) {
      if ((run(i) >>> 32) == (run(n - 1) >>> 32))
        run(n - 1) = (run(i) & ~Codec.U32Max) |
          Codec.saturatingAddU32(run(n - 1) & Codec.U32Max, run(i) & Codec.U32Max)
      else { run(n) = run(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(run, n)
  }
}

case class TileUsersAgg(
    userCol: Expression,
    pixelsCol: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TileBuffer] {

  // analysis-time type contract (a wrong-typed SQL call fails cleanly
  // instead of a mid-job ClassCastException on executors)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = userCol.dataType == LongType && (pixelsCol.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (BIGINT, ARRAY<BIGINT>), got " +
        s"(${userCol.dataType.sql}, ${pixelsCol.dataType.sql})")
  }
  override def children: Seq[Expression] = Seq(userCol, pixelsCol)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("cells", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("users", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("trips", ArrayType(LongType, containsNull = false), nullable = false)))

  override def createAggregationBuffer(): TileBuffer = new TileBuffer()

  override def update(buf: TileBuffer, input: InternalRow): TileBuffer = {
    val u = userCol.eval(input)
    val p = pixelsCol.eval(input)
    if (u != null && p != null)
      buf.addRow(u.asInstanceOf[Long], p.asInstanceOf[ArrayData].toLongArray()) // a copy the buffer keeps
    buf
  }

  override def merge(buf: TileBuffer, other: TileBuffer): TileBuffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: TileBuffer): Any = {
    val (pix, users, trips) = buf.cells()
    InternalRow(UnsafeArrayData.fromPrimitiveArray(pix),
      UnsafeArrayData.fromPrimitiveArray(users), UnsafeArrayData.fromPrimitiveArray(trips))
  }

  override def serialize(buf: TileBuffer): Array[Byte] = buf.serialize()

  override def deserialize(bytes: Array[Byte]): TileBuffer = TileBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TileUsersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TileUsersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(userCol = newChildren(0), pixelsCol = newChildren(1))

  override def prettyName: String = "tile_users"
}

object TileUsersFunctions {
  val Name = "tile_users"

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(Name)
    if (!registry.functionExists(ident)) {
      registry.registerFunction(
        ident,
        new ExpressionInfo(classOf[TileUsersAgg].getName, Name),
        (exprs: Seq[Expression]) => TileUsersAgg(exprs(0), exprs(1)).toAggregateExpression())
    }
  }

  def tileUsers(spark: SparkSession, user: Column, pixels: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(Name, user, pixels)
  }
}
