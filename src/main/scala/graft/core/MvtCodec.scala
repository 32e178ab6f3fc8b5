package graft.core

import java.io.ByteArrayOutputStream

/**
 * Mapbox Vector Tile (MVT v2.1) encoder — pure Scala, written against the
 * public MVT spec (github.com/mapbox/vector-tile-spec).
 *
 * Reproduces the export shape of the reference
 * (`/root/reference/src/HeatMap.Tiles/IO/VectorTiles/HeatMapExtensions.cs:42-80`,
 * `Worker.cs:257-279`): one layer named "heatmap" of Point features, one per
 * non-zero pixel, with attributes {users, trips} (uint values); tiles with
 * zero features are dropped (F6 lives upstream).
 *
 * Placement: the reference converts the pixel's top-left corner to lon/lat
 * via the linear tile transform (TileGeometryTransform.cs:69-75) and hands
 * that to the external Mapbox writer for quantization. Quantizing the same
 * linear transform back to the extent grid lands on exactly
 * (px * extent / resolution, py * extent / resolution), which is what we
 * emit directly (documented divergence: the external writer re-projects the
 * latitude through true Mercator, a sub-pixel offset at extent 4096).
 */
object MvtCodec {
  final val Extent = 4096

  // -- protobuf field writers ------------------------------------------------
  private def tag(field: Int, wire: Int): Int = (field << 3) | wire

  private def writeKeyVarInt(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    VarInt.writeVarUInt(out, tag(field, 0).toLong)
    VarInt.writeVarUInt(out, v)
  }

  private def writeKeyBytes(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    VarInt.writeVarUInt(out, tag(field, 2).toLong)
    VarInt.writeVarUInt(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private def writeKeyString(out: ByteArrayOutputStream, field: Int, s: String): Unit =
    writeKeyBytes(out, field, s.getBytes("UTF-8"))

  // -- MVT structure ----------------------------------------------------------

  /** One pixel feature: local pixel coords + the two counters. */
  final case class PixelFeature(px: Int, py: Int, users: Long, trips: Long)

  /** A feature already placed on the extent grid. */
  final case class ExtentFeature(ex: Long, ey: Long, users: Long, trips: Long)

  /** Encode with the LINEAR placement (pixel top-left quantized straight to
    * the extent grid: px·extent/res). Kept as the documented fast path; the
    * reference-faithful Mercator placement is `MvtJobs`' via
    * WebMercator.extentCoords. */
  def encodeTile(features: Iterable[PixelFeature], resolution: Int,
                 layerName: String = "heatmap"): Array[Byte] = {
    val scale = Extent / resolution // 8 for the service's 512-px tiles
    encodeTileExtent(features.map(f =>
      ExtentFeature(f.px.toLong * scale, f.py.toLong * scale, f.users, f.trips)), layerName)
  }

  /** Encode one tile's placed features into an MVT blob (layer "heatmap"). */
  def encodeTileExtent(features: Iterable[ExtentFeature],
                       layerName: String = "heatmap"): Array[Byte] = {

    // value table, deduped in first-seen order (uint values, MVT field 5)
    val valueIndex = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    def valueId(v: Long): Int = valueIndex.getOrElseUpdate(v, valueIndex.size)

    val featBytes = new ByteArrayOutputStream()
    features.foreach { f =>
      val fb = new ByteArrayOutputStream()
      // tags: [keyIdx(users)=0, valIdx, keyIdx(trips)=1, valIdx] packed (field 2)
      val tagsB = new ByteArrayOutputStream()
      VarInt.writeVarUInt(tagsB, 0L); VarInt.writeVarUInt(tagsB, valueId(f.users).toLong)
      VarInt.writeVarUInt(tagsB, 1L); VarInt.writeVarUInt(tagsB, valueId(f.trips).toLong)
      writeKeyBytes(fb, 2, tagsB.toByteArray)
      writeKeyVarInt(fb, 3, 1L) // GeomType POINT
      writeKeyBytes(fb, 4, encodeMultiPointGeom(Seq((f.ex, f.ey))))
      writeKeyBytes(featBytes, 2, fb.toByteArray) // Layer.features
    }

    val layer = new ByteArrayOutputStream()
    writeKeyVarInt(layer, 15, 2L) // version
    writeKeyString(layer, 1, layerName)
    val fArr = featBytes.toByteArray
    layer.write(fArr, 0, fArr.length)
    writeKeyString(layer, 3, "users")
    writeKeyString(layer, 3, "trips")
    valueIndex.keysIterator.foreach { v =>
      val vb = new ByteArrayOutputStream()
      writeKeyVarInt(vb, 5, v) // uint_value
      writeKeyBytes(layer, 4, vb.toByteArray)
    }
    writeKeyVarInt(layer, 5, Extent.toLong)

    val tile = new ByteArrayOutputStream()
    writeKeyBytes(tile, 3, layer.toByteArray) // Tile.layers
    tile.toByteArray
  }

  /** Bytes `VarInt.writeVarUInt` emits for `v`. */
  def varUIntLen(v: Long): Int = {
    var x = v; var n = 1
    while ((x & ~0x7FL) != 0) { n += 1; x >>>= 7 }
    n
  }

  /** Growable byte buffer for the streaming encoder — one allocation per
    * tile instead of several per feature (the ByteArrayOutputStream form
    * above allocates ~6 objects per feature; at 10^7 features per export
    * that is pure GC pressure on the hot path). */
  final class ByteBuf(initial: Int) {
    private var buf = new Array[Byte](math.max(initial, 64))
    private var n = 0
    def length: Int = n
    private def ensure(extra: Int): Unit =
      if (n + extra > buf.length) {
        var c = buf.length << 1
        while (c < n + extra) c <<= 1
        buf = java.util.Arrays.copyOf(buf, c)
      }
    def writeByte(b: Int): Unit = { ensure(1); buf(n) = b.toByte; n += 1 }
    def writeVarUInt(v: Long): Unit = {
      ensure(10)
      var x = v
      while ((x & ~0x7FL) != 0) { buf(n) = ((x & 0x7FL) | 0x80L).toByte; n += 1; x >>>= 7 }
      buf(n) = x.toByte; n += 1
    }
    def writeBytes(b: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len); System.arraycopy(b, off, buf, n, len); n += len
    }
    def writeRaw(other: ByteBuf): Unit = writeBytes(other.buf, 0, other.n)
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  /** Streaming form of `encodeTileExtent` over primitive arrays —
    * BYTE-IDENTICAL output (MvtCodecSpec proves equality on random tiles),
    * zero per-feature allocation. `n` features are read from the first `n`
    * slots of the four arrays, in array order (callers pre-sort x-major). */
  def encodeTilePoints(n: Int, ex: Array[Long], ey: Array[Long],
                       users: Array[Long], trips: Array[Long],
                       layerName: String = "heatmap"): Array[Byte] = {
    // value table, deduped in first-seen order (unboxed mirror of the
    // LinkedHashMap in encodeTileExtent)
    val valueIds = new scala.collection.mutable.LongMap[Int](64)
    val valueOrder = new scala.collection.mutable.ArrayBuffer[Long](64)
    def valueId(v: Long): Int = {
      val got = valueIds.getOrElse(v, -1)
      if (got >= 0) got
      else { val id = valueOrder.length; valueIds.update(v, id); valueOrder += v; id }
    }
    val feats = new ByteBuf(n * 14 + 64)
    var i = 0
    while (i < n) {
      val uId = valueId(users(i)).toLong
      val tId = valueId(trips(i)).toLong
      val zx = VarInt.zigZag(ex(i))
      val zy = VarInt.zigZag(ey(i))
      val tagsLen = 2 + varUIntLen(uId) + varUIntLen(tId)
      val geomLen = 1 + varUIntLen(zx) + varUIntLen(zy) // MoveTo cmd byte (9)
      val fbLen = 1 + varUIntLen(tagsLen.toLong) + tagsLen + // field 2: tags
        2 + // field 3: geomtype POINT
        1 + varUIntLen(geomLen.toLong) + geomLen // field 4: geometry
      feats.writeByte(0x12) // tag(2, len) — Layer.features
      feats.writeVarUInt(fbLen.toLong)
      feats.writeByte(0x12) // tag(2, len) — Feature.tags
      feats.writeVarUInt(tagsLen.toLong)
      feats.writeVarUInt(0L); feats.writeVarUInt(uId)
      feats.writeVarUInt(1L); feats.writeVarUInt(tId)
      feats.writeByte(0x18); feats.writeByte(0x01) // tag(3, varint) = POINT
      feats.writeByte(0x22) // tag(4, len) — Feature.geometry
      feats.writeVarUInt(geomLen.toLong)
      feats.writeByte(9) // MoveTo, count = 1
      feats.writeVarUInt(zx); feats.writeVarUInt(zy)
      i += 1
    }
    val layer = new ByteBuf(feats.length + 128)
    layer.writeVarUInt(tag(15, 0).toLong); layer.writeVarUInt(2L) // version
    val nameB = layerName.getBytes("UTF-8")
    layer.writeVarUInt(tag(1, 2).toLong); layer.writeVarUInt(nameB.length.toLong)
    layer.writeBytes(nameB, 0, nameB.length)
    layer.writeRaw(feats)
    Seq("users", "trips").foreach { key =>
      val kb = key.getBytes("UTF-8")
      layer.writeVarUInt(tag(3, 2).toLong); layer.writeVarUInt(kb.length.toLong)
      layer.writeBytes(kb, 0, kb.length)
    }
    valueOrder.foreach { v =>
      layer.writeVarUInt(tag(4, 2).toLong)
      layer.writeVarUInt((1 + varUIntLen(v)).toLong) // tag(5,0) byte + varint
      layer.writeVarUInt(tag(5, 0).toLong); layer.writeVarUInt(v)
    }
    layer.writeVarUInt(tag(5, 0).toLong); layer.writeVarUInt(Extent.toLong)
    val tile = new ByteBuf(layer.length + 8)
    tile.writeVarUInt(tag(3, 2).toLong); tile.writeVarUInt(layer.length.toLong)
    tile.writeRaw(layer)
    tile.toArray
  }

  /** G8 — the delta-encoded geometry cursor (`TileGeometryTransform.cs:52-66`
    * keeps currentX/currentY; the wire form is the MVT spec's
    * MoveTo(count=n) command with each point zigzag-encoded RELATIVE to the
    * cursor). The heatmap's single-point features are the n=1 case; the
    * general multi-point form is part of the codec surface (MvtCodecSpec
    * round-trips it). */
  def encodeMultiPointGeom(points: Seq[(Long, Long)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    VarInt.writeVarUInt(out, ((points.length << 3) | 1).toLong) // MoveTo, count=n
    var cx = 0L; var cy = 0L
    points.foreach { case (x, y) =>
      VarInt.writeVarUInt(out, VarInt.zigZag(x - cx))
      VarInt.writeVarUInt(out, VarInt.zigZag(y - cy))
      cx = x; cy = y
    }
    out.toByteArray
  }

  /** Inverse of `encodeMultiPointGeom` (cursor-decoded absolute points). */
  def decodeMultiPointGeom(bytes: Array[Byte]): Seq[(Long, Long)] = {
    var pos = 0
    def next(): Long = {
      var shift = 0; var v = 0L; var more = true
      while (more) {
        val b = bytes(pos) & 0xFF; pos += 1
        v |= (b & 0x7FL) << shift; shift += 7; more = (b & 0x80) != 0
      }
      v
    }
    val cmd = next()
    require((cmd & 7) == 1, s"expected MoveTo, got command ${cmd & 7}")
    val n = (cmd >> 3).toInt
    var cx = 0L; var cy = 0L
    (1 to n).map { _ =>
      cx += VarInt.unZigZag(next())
      cy += VarInt.unZigZag(next())
      (cx, cy)
    }
  }

  // -- minimal decoder (tests only) -------------------------------------------

  /** Decoded feature for round-trip tests: (x, y, users, trips) at extent grain. */
  def decodeTile(bytes: Array[Byte]): Seq[(Long, Long, Long, Long)] = {
    var pos = 0
    def readVarUInt(b: Array[Byte]): Long = {
      var shift = 0; var v = 0L
      var more = true
      while (more) {
        val x = b(pos) & 0xFF; pos += 1
        v |= (x & 0x7FL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      v
    }
    val out = Seq.newBuilder[(Long, Long, Long, Long)]
    // Tile → layer (field 3)
    val layerEnd = {
      val t = readVarUInt(bytes); require(t == ((3 << 3) | 2), s"unexpected tag $t")
      val len = readVarUInt(bytes)
      pos + len.toInt
    }
    var keys = Vector.empty[String]
    var values = Vector.empty[Long]
    var feats = Vector.empty[(Array[Long], Long, Long)] // tags, x, y
    while (pos < layerEnd) {
      val t = readVarUInt(bytes)
      val field = (t >> 3).toInt; val wire = (t & 7).toInt
      if (wire == 0) { readVarUInt(bytes); () }
      else {
        val len = readVarUInt(bytes).toInt
        val end = pos + len
        field match {
          case 3 => keys :+= new String(bytes, pos, len, "UTF-8"); pos = end
          case 4 =>
            var v = 0L
            while (pos < end) { val tt = readVarUInt(bytes); if ((tt >> 3) == 5) v = readVarUInt(bytes) else readVarUInt(bytes) }
            values :+= v
          case 2 =>
            var tags = Array.empty[Long]; var gx = 0L; var gy = 0L
            while (pos < end) {
              val ft = readVarUInt(bytes)
              val ff = (ft >> 3).toInt; val fw = (ft & 7).toInt
              if (fw == 0) { readVarUInt(bytes); () }
              else {
                val flen = readVarUInt(bytes).toInt
                val fend = pos + flen
                ff match {
                  case 2 =>
                    val b = Array.newBuilder[Long]
                    while (pos < fend) b += readVarUInt(bytes)
                    tags = b.result()
                  case 4 =>
                    readVarUInt(bytes) // MoveTo cmd
                    gx = VarInt.unZigZag(readVarUInt(bytes))
                    gy = VarInt.unZigZag(readVarUInt(bytes))
                  case _ => pos = fend
                }
              }
            }
            feats :+= ((tags, gx, gy))
          case _ => pos = end
        }
      }
    }
    val userKey = keys.indexOf("users"); val tripKey = keys.indexOf("trips")
    feats.foreach { case (tags, x, y) =>
      var users = 0L; var trips = 0L
      tags.grouped(2).foreach { p =>
        if (p(0) == userKey) users = values(p(1).toInt)
        if (p(0) == tripKey) trips = values(p(1).toInt)
      }
      out += ((x, y, users, trips))
    }
    out.result()
  }
}
