package graft.core

/**
 * Packed-counter codec: `u64 = userCount << 32 | tripCount`.
 *
 * Re-expression of `/root/reference/src/HeatMap.Tiles/Encoder.cs:5-13`.
 * The engine keeps `users`/`trips` as two Long columns everywhere (packed
 * addition of independent halves is only carry-safe while trips < 2^32 —
 * see HeatMapExtensions.cs:209) and packs/unpacks only at the export
 * boundary.
 */
object Codec {
  final val U32Max: Long = 0xFFFFFFFFL

  @inline def encode(userCount: Long, tripCount: Long): Long =
    (userCount << 32) | (tripCount & U32Max)

  @inline def decodeUsers(v: Long): Long = v >>> 32

  @inline def decodeTrips(v: Long): Long = v & U32Max

  @inline def decode(v: Long): (Long, Long) = (decodeUsers(v), decodeTrips(v))

  /** Saturating u32 add: min(a + b, 2^32-1) — Diffs/HeatMapExtensions.cs:72-76. */
  @inline def saturatingAddU32(a: Long, b: Long): Long = {
    val s = a + b
    if (s > U32Max) U32Max else s
  }
}

/**
 * Protobuf varint / zig-zag primitives for the MVT encoder.
 *
 * Same wire semantics as the reference's var-int surface
 * (`/root/reference/src/HeatMap.Tiles/IO/BitCoder.cs:9-521`) and the public
 * protobuf spec; written from scratch against the spec.
 */
object VarInt {
  @inline def zigZag(v: Long): Long = (v << 1) ^ (v >> 63)

  @inline def unZigZag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  def writeVarUInt(out: java.io.ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }
}
