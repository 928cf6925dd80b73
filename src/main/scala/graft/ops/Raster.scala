package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Packed multi-variable uint16 raster codec — the ingest-boundary
  * analog of the reference's NetCDF variable reads
  * (weather4cast/datasets.py:75-110: uint16 payloads with per-variable
  * scale attributes and a fill-value mask; datasets.py:455-459 writes
  * uint16 frames back out).
  *
  * Everything is codegen'd Catalyst expressions — no UDF, no
  * driver-side byte twiddling:
  *  - ENCODE: per-cell codes -> 4-hex-digit chunks (`lpad(hex(c),4)`),
  *    variables interleaved per cell, cells ordered by an explicit
  *    index via `sort_array(collect_list(struct(k, hx)))` (a plain
  *    agg, no interpreted higher-order lambda), concatenated with
  *    `concat_ws` and `unhex`ed into ONE binary blob per frame. The
  *    agg shuffles one row per frame; with the cell index produced by
  *    a window over the same key, the exchange is reused and the
  *    whole pack is a single shuffle.
  *  - DECODE: `hex` the blob once below an `explode(sequence(...))`
  *    over cell indexes, then each variable is a `substr` + `conv`
  *    slice — long-form (frame, cell, v1..vn) rows, the shape every
  *    downstream operator (P3 fill mask, N1 decode, A8 pooling)
  *    consumes.
  *
  * Fill handling mirrors the reference's `_FillValue`: code 65535 is
  * reserved; [[encodeU16]] maps flagged-or-NULL inputs to it and
  * [[decodeU16]] maps it back to NULL (the P3 mask semantics).
  * Quantization uses exact-binary-fraction scales (e.g. 1/128) and the
  * repo-standard `floor(x*k + 0.5)` half-up, so an external SQL engine
  * reproduces the roundtrip bit-for-bit.
  */
object Raster {

  /** Reserved fill code (uint16 max), reference `_FillValue`. */
  val FillCode = 65535L

  /** Quantize a double to a uint16 code: fill/NULL -> 65535, else
    * `clamp(floor(v*invScale + 0.5), 0, 65534)`. `invScale` must be an
    * exact binary fraction's inverse (128 = 1/2^-7) for a
    * cross-engine-exact roundtrip. */
  def encodeU16(v: Column, invScale: Double, isFill: Column): Column =
    when(isFill || v.isNull, lit(FillCode))
      .otherwise(least(lit(65534L),
        greatest(lit(0L), floor(v * lit(invScale) + lit(0.5)).cast("long"))))

  /** One cell's hex chunk: each variable's code as 4 hex digits,
    * interleaved in argument order. */
  def cellHex(codes: Column*): Column =
    concat(codes.map(c => lpad(hex(c), 4, "0")): _*)

  /** Aggregate expression packing a frame's cells (indexed by `k`,
    * hex chunks from [[cellHex]]) into one binary blob, cells in
    * `k` order. Use inside `groupBy(frameKey).agg(...)`. */
  def packOrdered(k: Column, hx: Column): Column =
    unhex(concat_ws("",
      sort_array(collect_list(struct(k.as("k"), hx.as("hx")))).getField("hx")))

  /** Variable `varIdx`'s code at cell `k` of a [[packOrdered]] blob
    * pre-projected to hex (`hex(blob)`): a substr + base-16 conv. */
  def unpackCode(hxs: Column, k: Column, varIdx: Int, nVars: Int): Column =
    conv(hxs.substr(k * lit(4 * nVars) + lit(1 + 4 * varIdx), lit(4)), 16, 10)
      .cast("long")

  /** Dequantize: fill code -> NULL, else `code * scale` (`scale` an
    * exact binary fraction, the inverse of [[encodeU16]]'s). */
  def decodeU16(code: Column, scale: Double): Column =
    when(code === lit(FillCode), lit(null).cast("double"))
      .otherwise(code.cast("double") * lit(scale))
}
