package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, File, OutputStream}
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's default checkpoint file manager without its subprocesses,
  * for checkpoints on the local file system.
  *
  * Without `libhadoop`, Hadoop's local file system sets every new
  * file's permissions by forking `chmod`, and its `FileContext.rename`
  * looks up link status by forking `readlink`. An atomic checkpoint
  * write (temp file + rename) then took 38-66 ms on a 4-core VM,
  * against about 1 ms through this class, and one tag-pipeline trigger
  * makes about ten of them: an offset-log and a commit-log entry, and a
  * delta file plus its Spark checksum file per state partition.
  *
  * Here [[createTempFile]] writes the file with `java.nio` together
  * with Hadoop's `.<name>.crc` side file in `ChecksumFs`'s format
  * (`crc\0`, the int 512, one big-endian CRC32 per 512-byte chunk), and
  * [[renameTempFile]] moves both files without a `FileContext` call:
  * an overwrite is an atomic rename; otherwise the file is hard-linked
  * into place, which fails with Hadoop's `FileAlreadyExistsException`
  * when the target exists (what `HDFSMetadataLog` relies on to detect
  * two queries writing one checkpoint). As with Hadoop's local file
  * system, nothing is fsynced. [[open]] reads through `ChecksumFs`'s
  * verifying stream, which `FileContext.open` skips. Any file system
  * other than Hadoop's
  * checksummed `LocalFs` keeps Spark's own code.
  *
  * The on-disk result is the same file set, byte for byte in format, as
  * the default manager's: a checkpoint moves between the two managers
  * in both directions.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {
  import LocalCheckpointFileManager._

  private val local = fc.getDefaultFileSystem.isInstanceOf[LocalFs]

  private def nio(p: Path): NioPath =
    new File(fc.makeQualified(p).toUri.getPath).toPath

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!local) super.createTempFile(p)
    else new FSDataOutputStream(new ChecksummedFile(nio(p)), null)

  /** Reads verify the `.crc` side file, as `ChecksumFs` promises.
    * Spark's `fc.open(path)` does not: Hadoop's `FilterFs.open(Path)`
    * hands it to the raw file system, past `ChecksumFs`'s checked
    * `open(Path, Int)`, so a flipped byte in an offset-log entry would
    * be read as data.
    */
  override def open(p: Path): FSDataInputStream =
    if (!local) super.open(p)
    else {
      val (fs, q) = (fc.getDefaultFileSystem, fc.makeQualified(p))
      fs.open(q, fs.getServerDefaults(q).getFileBufferSize)
    }

  override def renameTempFile(src: Path, dst: Path,
      overwriteIfPossible: Boolean): Unit =
    if (!local) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (s, d) = (nio(src), nio(dst))
      if (overwriteIfPossible) Files.move(s, d, ATOMIC_MOVE)
      else {
        try Files.createLink(d, s)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.delete(s)
            Files.deleteIfExists(crcOf(s))
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
        Files.delete(s)
      }
      // replaces the target's stale checksum, which would reject the
      // new bytes
      Files.move(crcOf(s), crcOf(d), ATOMIC_MOVE)
    }
}

object LocalCheckpointFileManager {
  private val BytesPerChecksum = 512
  private val ChecksumVersion = Array[Byte]('c', 'r', 'c', 0)

  /** `ChecksumFs.getChecksumFile`: `dir/name` → `dir/.name.crc`. */
  private def crcOf(p: NioPath): NioPath =
    p.resolveSibling(s".${p.getFileName}.crc")

  /** Writes `file` and, on close, its `ChecksumFs` side file. */
  private final class ChecksummedFile(file: NioPath) extends OutputStream {
    private val out = new BufferedOutputStream(Files.newOutputStream(file))
    private val sums = new ByteArrayOutputStream()
    private val sumsOut = new DataOutputStream(sums)
    private val crc = new CRC32
    private var inChunk = 0
    private var closed = false

    sumsOut.write(ChecksumVersion)
    sumsOut.writeInt(BytesPerChecksum)

    private def endChunk(): Unit = {
      sumsOut.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var i = off
      while (i < off + len) {
        val n = math.min(off + len - i, BytesPerChecksum - inChunk)
        crc.update(b, i, n)
        inChunk += n
        i += n
        if (inChunk == BytesPerChecksum) endChunk()
      }
    }

    override def flush(): Unit = out.flush()

    override def close(): Unit = if (!closed) {
      closed = true
      if (inChunk > 0) endChunk()
      out.close()
      Files.write(crcOf(file), sums.toByteArray)
    }
  }
}
