package graft.tools

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** [[MeteredFs]] that also counts the creates it misses.
  *
  * `MeteredFs` counts the 7-argument `create`, but `RawLocalFileSystem`
  * serves `create(path, overwrite, ...)` (the call Parquet and the commit
  * protocol make) and the `overwrite` flavour of `createNonRecursive`
  * through overloads of their own. This subclass counts those too, under
  * the same `create` counter. It sits in `graft.tools` for the
  * package-private `MeteredFs.counted`.
  */
class CreateMeteredFs extends MeteredFs {
  import MeteredFs.counted

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
}

object CreateMeteredFs {
  /** Registers the `graftmeter` scheme with this class behind both the
    * FileSystem and the FileContext binding.
    */
  def install(conf: Configuration): Unit = {
    MeteredFs.install(conf)
    conf.set("fs.graftmeter.impl", classOf[CreateMeteredFs].getName)
    conf.set("fs.AbstractFileSystem.graftmeter.impl",
      classOf[CreateMeteredAbstractFs].getName)
  }
}

class CreateMeteredAbstractFs(uri: URI, conf: Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
      new CreateMeteredFs, conf, "graftmeter", false)
