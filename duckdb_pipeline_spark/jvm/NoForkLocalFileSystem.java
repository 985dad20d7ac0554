package duckdb_pipeline_spark.jvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFileAttributeView;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local FileSystem over {@link Raw}, a raw local
 * FileSystem that sets permissions in-process.
 *
 * <p>Without the native libhadoop, {@code RawLocalFileSystem.setPermission}
 * forks a {@code chmod} process, and Hadoop calls it for every file and
 * directory it creates: each Parquet part, its {@code .crc}, the commit
 * markers and every commit-protocol directory. {@link Raw} sets the same
 * rwx bits through {@code java.nio.file}. Every byte, every {@code .crc}
 * checksum and every file mode is what the stock FileSystem leaves.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /** {@code RawLocalFileSystem} whose {@code setPermission} forks no process. */
  public static class Raw extends RawLocalFileSystem {

    /**
     * The stock method's mode ({@code chmod %04o}), set without a fork. A
     * sticky bit, which {@code java.nio} cannot express, and a filesystem
     * without a POSIX attribute view take the stock path.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path f = pathToFile(p).toPath();
      if (permission.getStickyBit()
          || Files.getFileAttributeView(f, PosixFileAttributeView.class) == null) {
        super.setPermission(p, permission);
        return;
      }
      String rwx = permission.getUserAction().SYMBOL + permission.getGroupAction().SYMBOL
          + permission.getOtherAction().SYMBOL;
      try {
        Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(rwx));
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException("File " + p + " does not exist");
      }
    }
  }
}
