package graft.imaging

import java.nio.file.{Files, Path}

/** Synthetic SmartSPIM stacks for the benches and specs: uint16 PNG
  * slices named `<z:06d>.png`, whose voxels come from a function of
  * (z, y, x). */
object SyntheticStack {

  /** A voxel generator, as a SAM type rather than `Function3` so each
    * value comes back unboxed. It is called once per voxel of a slice,
    * in raster order (y, then x), so a generator may carry state along
    * a row. */
  trait Voxel { def apply(z: Int, y: Int, x: Int): Int }

  /** Writes slice `z` of an `ny`×`nx` stack to `dir/<z:06d>.png`. */
  def writeSlice(dir: Path, z: Int, ny: Int, nx: Int)(voxel: Voxel): Path = {
    val px = new Array[Byte](ny * nx * 2)
    var y = 0
    while (y < ny) {
      var x = 0
      while (x < nx) {
        val v = voxel(z, y, x)
        val i = (y * nx + x) * 2
        px(i) = (v & 0xFF).toByte
        px(i + 1) = ((v >> 8) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    Files.write(dir.resolve(f"$z%06d.png"), ImageCodec.encodePng16(nx, ny, px))
  }

  /** Creates `dir` and writes slices 0 until `nz` into it; returns `dir`. */
  def write(dir: Path, nz: Int, ny: Int, nx: Int)(voxel: Voxel): Path = {
    Files.createDirectories(dir)
    (0 until nz).foreach(z => writeSlice(dir, z, ny, nx)(voxel))
    dir
  }
}
