package questdb_etl_jobs_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem whose raw layer sets permissions
 * with one chmod(2) call instead of forking the chmod tool, which is what
 * RawLocalFileSystem does when Hadoop's native library is missing.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    /** Same 12 mode bits the shell path passes as %04o; follows links. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      Files.setAttribute(
          pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
    }
  }
}
