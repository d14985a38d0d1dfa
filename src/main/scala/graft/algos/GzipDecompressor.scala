package graft.algos

import graft.catalog.CatalogOps
import graft.fsops.FsOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import java.util.zip.ZipInputStream

/** Decompress .gz / single-entry .zip files in a landing directory and
  * delete the archives (reference: src/main/scala/com/adidas/analytics/algo/GzipDecompressor.scala:35-101).
  * Driver-side thread pool, like the reference — decompression of landing
  * archives is IO-bound file shuffling, not a distributed compute problem;
  * Spark's executors are deliberately not involved.
  */
class GzipDecompressor(conf: Configuration, fsOps: FsOps,
    threadPoolSize: Int = 8) {

  /** Inflate every archive under `dir` on the shared bounded pool
    * ([[CatalogOps.runConcurrently]]): it waits for every archive, reports
    * every failure (a corrupt archive must not read as a successful load)
    * and interrupts what still runs at its timeout.
    */
  def run(dir: String): Seq[String] = {
    val codecs = new CompressionCodecFactory(conf)
    val archives = fsOps.listFilesRecursive(dir)
      .filter(f => f.endsWith(".gz") || f.endsWith(".zip"))
    CatalogOps.runConcurrently(archives, threadPoolSize)(inflate(codecs, _))
    archives.map(stripExtension).sorted
  }

  private def inflate(codecs: CompressionCodecFactory, f: String): Unit = {
    val src = new Path(f)
    val fs = fsOps.fs(src)
    val outPath = new Path(stripExtension(f))
    val out = fs.create(outPath, true)
    val in =
      if (f.endsWith(".zip")) {
        val z = new ZipInputStream(fs.open(src))
        z.getNextEntry // single-entry zip, reference :63-72
        z
      } else codecs.getCodec(src).createInputStream(fs.open(src))
    var outClosed = false
    try in.transferTo(out)
    catch {
      case e: Throwable =>
        // never leave a truncated output behind a successful-looking run
        out.close(); outClosed = true
        fs.delete(outPath, false)
        throw e
    }
    finally { in.close(); if (!outClosed) out.close() }
    fs.delete(src, false)
  }

  private def stripExtension(f: String): String =
    f.substring(0, f.lastIndexOf('.'))
}
