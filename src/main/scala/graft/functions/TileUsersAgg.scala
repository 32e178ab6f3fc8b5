package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Tile-grain exact heatmap aggregate: ONE buffer per z14 TILE carrying every
 * pixel's (trip sum, distinct-user set) — the engine's answer to the
 * pixel-row shuffle bottleneck.
 *
 * A pixel-grain count-distinct exchanges one row per distinct (pixel, user)
 * per map partition; at sf0.1 that is ~23.5M rows because tracks land
 * randomly, so map-side combine barely collapses anything. Grouping by TILE
 * instead (≈740 keys) exchanges one partial buffer per (map partition ×
 * tile) — hundreds of rows, each a compact binary blob — while the same
 * (pixel, user) de-duplication happens inside the buffer, off the row path.
 * This reproduces the reference's own
 * unit of work (one `HeatMapTile` accumulated at a time —
 * `/root/reference/src/HeatMap.Tiles/HeatMapTile.cs:17-83`,
 * `Worker.cs:167-222`) as a distributive Spark aggregate: update folds a
 * track's per-tile pixel runs in, merge unions buffers, eval emits the
 * tile's cells.
 *
 * Input: (user_id: Long, pixels: Array[Long]) with each element packing
 * (localPix << 32 | trips) — see `Rasterize.tileVisits`.
 * Output: the `Schemas.TileCells` layout, three parallel primitive arrays
 * struct<cells: array<int>, users: array<bigint>, trips: array<bigint>>
 * with `cells` (the local pixels) ascending — no per-cell rows.
 */
final class TileBuffer {
  // pix → trips sum (open addressing; key stored as pix+1, 0 = empty slot)
  var pixKeys: Array[Int] = new Array[Int](16)
  var pixTrips: Array[Long] = new Array[Long](16)
  var nPix: Int = 0
  // distinct (pix, user) set (parallel arrays; pix stored as pix+1)
  var pairPix: Array[Int] = new Array[Int](16)
  var pairUser: Array[Long] = new Array[Long](16)
  var nPair: Int = 0

  def addTrips(pix: Int, t: Long): Unit = {
    val mask = pixKeys.length - 1
    var i = (pix * 0x9E3779B1) & mask
    while (pixKeys(i) != 0) {
      if (pixKeys(i) == pix + 1) { pixTrips(i) += t; return }
      i = (i + 1) & mask
    }
    pixKeys(i) = pix + 1
    pixTrips(i) = t
    nPix += 1
    if (nPix * 2 > pixKeys.length) growPix()
  }

  private def growPix(): Unit = {
    val ok = pixKeys; val ot = pixTrips
    pixKeys = new Array[Int](ok.length * 2)
    pixTrips = new Array[Long](ok.length * 2)
    val mask = pixKeys.length - 1
    var s = 0
    while (s < ok.length) {
      if (ok(s) != 0) {
        var i = ((ok(s) - 1) * 0x9E3779B1) & mask
        while (pixKeys(i) != 0) i = (i + 1) & mask
        pixKeys(i) = ok(s); pixTrips(i) = ot(s)
      }
      s += 1
    }
  }

  def addPair(pix: Int, user: Long): Unit = {
    val mask = pairPix.length - 1
    var i = ((pix * 0x9E3779B1) ^ (java.lang.Long.hashCode(user) * 0x85EBCA6B)) & mask
    while (pairPix(i) != 0) {
      if (pairPix(i) == pix + 1 && pairUser(i) == user) return
      i = (i + 1) & mask
    }
    pairPix(i) = pix + 1
    pairUser(i) = user
    nPair += 1
    if (nPair * 2 > pairPix.length) growPair()
  }

  private def growPair(): Unit = {
    val op = pairPix; val ou = pairUser
    pairPix = new Array[Int](op.length * 2)
    pairUser = new Array[Long](op.length * 2)
    val mask = pairPix.length - 1
    var s = 0
    while (s < op.length) {
      if (op(s) != 0) {
        var i = (((op(s) - 1) * 0x9E3779B1) ^ (java.lang.Long.hashCode(ou(s)) * 0x85EBCA6B)) & mask
        while (pairPix(i) != 0) i = (i + 1) & mask
        pairPix(i) = op(s); pairUser(i) = ou(s)
      }
      s += 1
    }
  }

  /** Fold one input row: a user's pixel run over this tile. */
  def addRow(user: Long, packed: Array[Long]): Unit = {
    var i = 0
    while (i < packed.length) {
      addPacked(user, packed(i))
      i += 1
    }
  }

  @inline def addPacked(user: Long, el: Long): Unit = {
    val pix = (el >>> 32).toInt
    addTrips(pix, el & 0xFFFFFFFFL)
    addPair(pix, user)
  }

  /** Pre-size both tables for an expected entry count: one rehash up front
    * instead of log₂(n) doubling rehashes on a known-size insert stream
    * (deserialize knows its exact counts; merge knows an upper bound). */
  def ensureCapacity(pix: Int, pairs: Int): Unit = {
    while (pix * 2 > pixKeys.length) growPix()
    while (pairs * 2 > pairPix.length) growPair()
  }

  def mergeFrom(other: TileBuffer): Unit = {
    ensureCapacity(nPix + other.nPix, nPair + other.nPair)
    var s = 0
    while (s < other.pixKeys.length) {
      if (other.pixKeys(s) != 0) addTrips(other.pixKeys(s) - 1, other.pixTrips(s))
      s += 1
    }
    s = 0
    while (s < other.pairPix.length) {
      if (other.pairPix(s) != 0) addPair(other.pairPix(s) - 1, other.pairUser(s))
      s += 1
    }
  }

  /** The tile's cells as three parallel arrays — local pixel (ascending),
    * distinct users, trip sum — ordered by sorting primitive packed
    * `pix << 32 | slot` keys (deterministic, no boxing). */
  def cells(): (Array[Int], Array[Long], Array[Long]) = {
    // distinct-user count per pixel: probe each pair's pixel slot once
    val counts = new Array[Long](pixKeys.length)
    val mask = pixKeys.length - 1
    var s = 0
    while (s < pairPix.length) {
      if (pairPix(s) != 0) {
        val pk = pairPix(s)
        var i = ((pk - 1) * 0x9E3779B1) & mask
        while (pixKeys(i) != pk) i = (i + 1) & mask
        counts(i) += 1
      }
      s += 1
    }
    val order = new Array[Long](nPix)
    var o = 0
    s = 0
    while (s < pixKeys.length) {
      if (pixKeys(s) != 0) { order(o) = ((pixKeys(s) - 1).toLong << 32) | s; o += 1 }
      s += 1
    }
    java.util.Arrays.sort(order)
    val pix = new Array[Int](nPix); val users = new Array[Long](nPix); val trips = new Array[Long](nPix)
    var i = 0
    while (i < nPix) {
      val slot = order(i).toInt
      pix(i) = (order(i) >>> 32).toInt; users(i) = counts(slot); trips(i) = pixTrips(slot)
      i += 1
    }
    (pix, users, trips)
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 12 * nPix + 12 * nPair)
    bb.putInt(nPix); bb.putInt(nPair)
    var s = 0
    while (s < pixKeys.length) {
      if (pixKeys(s) != 0) { bb.putInt(pixKeys(s) - 1); bb.putLong(pixTrips(s)) }
      s += 1
    }
    s = 0
    while (s < pairPix.length) {
      if (pairPix(s) != 0) { bb.putInt(pairPix(s) - 1); bb.putLong(pairUser(s)) }
      s += 1
    }
    bb.array()
  }
}

object TileBuffer {
  def deserialize(bytes: Array[Byte]): TileBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TileBuffer()
    val np = bb.getInt; val nq = bb.getInt
    buf.ensureCapacity(np, nq) // exact counts known — size once, no rehashes
    var i = 0
    while (i < np) { buf.addTrips(bb.getInt, bb.getLong); i += 1 }
    i = 0
    while (i < nq) { buf.addPair(bb.getInt, bb.getLong); i += 1 }
    buf
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
    if (u != null && p != null) {
      val user = u.asInstanceOf[Long]
      val ad = p.asInstanceOf[ArrayData]
      // iterate in place — toLongArray would copy the run per input row
      val n = ad.numElements()
      var i = 0
      while (i < n) {
        buf.addPacked(user, ad.getLong(i))
        i += 1
      }
    }
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
