package graft.io

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Unified filesystem facade over Hadoop's `FileSystem` API.
  *
  * Re-expression of the reference `datatoolz.filesystem.FileSystem`
  * (reference: datatoolz/filesystem.py:13-129): one interface for local
  * and object storage. Where the reference wraps fsspec/s3fs with a
  * custom STS-assume chain, the Spark-native equivalent is scheme
  * dispatch through Hadoop: `file://`, `hdfs://`, `s3a://`, ... all
  * resolve via `Path.getFileSystem(conf)`, and credentials/role assume
  * live in Hadoop conf (`fs.s3a.assumed.role.arn`,
  * `fs.s3a.aws.credentials.provider`, `fs.s3a.endpoint`) — so executors
  * get the exact same view as the driver, which no pythonic
  * driver-side fs wrapper can offer on a cluster.
  */
class FileSystems(conf: Configuration) {

  private def fs(path: String): FileSystem = new Path(path).getFileSystem(conf)

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  def mkdirs(path: String): Boolean = fs(path).mkdirs(new Path(path))

  /** Delete (recursively for directories). Returns true if removed. */
  def rm(path: String, recursive: Boolean = true): Boolean =
    fs(path).delete(new Path(path), recursive)

  /** Non-recursive listing, like reference `ls`. */
  def ls(path: String): Seq[FileStatus] =
    fs(path).listStatus(new Path(path)).toSeq

  /** Recursive file listing, like reference `find` (io.py:144). */
  def find(path: String): Seq[String] = {
    val f = fs(path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else if (f.getFileStatus(p).isFile) Seq(p.toString)
    else {
      val it = f.listFiles(p, true)
      val buf = Seq.newBuilder[String]
      while (it.hasNext) buf += it.next().getPath.toString
      buf.result()
    }
  }

  /** Recursive (path, length) listing in ONE listing pass —
    * `listFiles` already carries lengths, so summing sizes this way
    * costs no per-file getFileStatus RPC (on an object store with
    * 100k files, `find` + `size` per file would be 100k extra HEAD
    * requests). */
  def findStatus(path: String): Seq[(String, Long)] = {
    val f = fs(path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else if (f.getFileStatus(p).isFile)
      Seq(p.toString -> f.getFileStatus(p).getLen)
    else {
      val it = f.listFiles(p, true)
      val buf = Seq.newBuilder[(String, Long)]
      while (it.hasNext) { val s = it.next(); buf += (s.getPath.toString -> s.getLen) }
      buf.result()
    }
  }

  /** Glob expansion (`*`, `?`, `[abc]`, `{a,b}`). */
  def glob(pattern: String): Seq[String] =
    fs(pattern).globStatus(new Path(pattern)) match {
      case null => Seq.empty
      case arr  => arr.toSeq.map(_.getPath.toString)
    }

  def cp(src: String, dst: String): Boolean = {
    val sfs = fs(src); val dfs = fs(dst)
    FileUtil.copy(sfs, new Path(src), dfs, new Path(dst), false, conf)
  }

  def mv(src: String, dst: String): Boolean =
    fs(src).rename(new Path(src), new Path(dst))

  def modified(path: String): Long =
    fs(path).getFileStatus(new Path(path)).getModificationTime

  /** File length in bytes. */
  def size(path: String): Long =
    fs(path).getFileStatus(new Path(path)).getLen

  /** Creation time in epoch millis (reference `created`,
    * filesystem.py:115-116). Hadoop's FileStatus does not model
    * creation time, so: local files report the filesystem's real
    * creation stamp via NIO; object stores report the modification
    * time, which IS creation for immutable objects (s3 semantics). */
  def created(path: String): Long = {
    val p = new Path(path)
    val f = fs(path)
    if (f.getScheme == "file") {
      val attrs = java.nio.file.Files.readAttributes(
        java.nio.file.Paths.get(p.toUri.getPath),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      attrs.creationTime().toMillis
    } else f.getFileStatus(p).getModificationTime
  }

  /** Pre-signed access URL (reference `sign`, filesystem.py:124-125).
    * Local files need no signing — their URI is returned. Object-store
    * presigning is a STORAGE-SDK operation (an STS-signed https URL),
    * not a filesystem one; Hadoop's FS abstraction deliberately does
    * not expose it. Deployments that have the storage SDK on the
    * classpath close the gap by registering a presigner for their
    * scheme ([[FileSystems.registerPresigner]] — e.g. an
    * S3Presigner-backed function for `s3a`); without one, non-local
    * schemes throw with that instruction. */
  def sign(path: String, expirationSeconds: Int = 100): String = {
    val p = new Path(path)
    val scheme = Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") fs(path).makeQualified(p).toUri.toString
    else FileSystems.presignerFor(scheme) match {
      case Some(presign) => presign(path, expirationSeconds)
      case None => throw new UnsupportedOperationException(
        s"sign() requires the object store's SDK presigner (scheme '$scheme'); " +
          "register one with FileSystems.registerPresigner(scheme, fn) " +
          "— not expressible through the Hadoop FileSystem API")
    }
  }

  def open(path: String): java.io.InputStream = fs(path).open(new Path(path))

  def create(path: String, overwrite: Boolean = true): java.io.OutputStream =
    fs(path).create(new Path(path), overwrite)

  /** Read a whole file as UTF-8 text. */
  def readString(path: String): String = {
    val in = open(path)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  def writeString(path: String, content: String): Unit = {
    val out = create(path)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }
}

object FileSystems {
  def apply(spark: SparkSession): FileSystems =
    new FileSystems(spark.sparkContext.hadoopConfiguration)

  def local(): FileSystems = new FileSystems(new Configuration())

  /** (path, expirationSeconds) => presigned https URL. */
  type Presigner = (String, Int) => String

  // scheme -> SDK presigner; a DRIVER-side registry (presigning is a
  // metadata/export operation, never part of a distributed plan)
  private val presigners =
    new java.util.concurrent.ConcurrentHashMap[String, Presigner]()

  /** Register the storage SDK's presigner for a scheme (e.g. wrap
    * software.amazon.awssdk S3Presigner for "s3a"). The SDK itself is
    * deliberately NOT a dependency of this library; callers that need
    * presigned exports bring it and plug it in here. */
  def registerPresigner(scheme: String, presign: Presigner): Unit =
    presigners.put(scheme, presign)

  /** Remove a registered presigner (tests, reconfiguration). */
  def unregisterPresigner(scheme: String): Unit = presigners.remove(scheme)

  private[io] def presignerFor(scheme: String): Option[Presigner] =
    Option(presigners.get(scheme))

  /** Hadoop conf for S3 access with an optional STS assume-role chain
    * and endpoint override — the Spark-native mapping of the
    * reference's botocore RefreshableCredentials chain
    * (filesystem.py:69-107). Session credentials refresh and
    * distribution to every executor are handled by the s3a connector.
    *
    * Chain mapping: the LAST role in the chain is the role s3a
    * assumes (`fs.s3a.assumed.role.arn`); base credentials that are
    * themselves obtained by assuming intermediate roles are the
    * domain of the credential broker — s3a supports one in-connector
    * hop, which covers the reference's single-role tests; longer
    * chains need an external broker and are documented here as the
    * boundary.
    */
  def s3aConf(
      assumedRole: Option[String] = None,
      endpoint: Option[String] = None,
      sessionName: String = "graft-filesystem-s3",
      durationSeconds: Int = 3600): Map[String, String] = {
    val base = Map.newBuilder[String, String]
    assumedRole.foreach { arn =>
      base += "fs.s3a.aws.credentials.provider" ->
        "org.apache.hadoop.fs.s3a.auth.AssumedRoleCredentialProvider"
      base += "fs.s3a.assumed.role.arn" -> arn
      base += "fs.s3a.assumed.role.session.name" -> sessionName
      base += "fs.s3a.assumed.role.session.duration" -> s"${durationSeconds}s"
    }
    endpoint.foreach { url =>
      base += "fs.s3a.endpoint" -> url
      base += "fs.s3a.path.style.access" -> "true" // non-AWS endpoints (minio etc.)
    }
    base.result()
  }

  /** Apply `s3aConf` onto a Hadoop Configuration (mutates and returns
    * it, for chaining into SparkSession.hadoopConfiguration). */
  def applyS3a(conf: Configuration, settings: Map[String, String]): Configuration = {
    settings.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Hive-style path builder, mirroring reference `DataIO.get_path`
    * (io.py:37-59): ("prefix", [a,b], [1,2], "suffix") ->
    * "prefix/a=1/b=2/suffix". A null suffix yields a unique filename.
    */
  def pathFor(prefix: String, partitions: Seq[String] = Nil,
              values: Seq[Any] = Nil, suffix: Option[String] = Some("")): String = {
    require(partitions.length == values.length && values.forall(_ != null),
      "`partitions` and `values` lengths must match and `values` must not contain null")
    val parts = partitions.zip(values).map { case (f, v) => s"$f=$v" }
    val suf = suffix.getOrElse(s"${System.nanoTime()}-${UUID.randomUUID()}")
    (Seq(prefix) ++ parts ++ Seq(suf)).filter(_.nonEmpty).mkString("/")
      .stripSuffix("/")
  }
}
