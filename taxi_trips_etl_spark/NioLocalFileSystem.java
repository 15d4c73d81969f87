package taxi_trips_etl_spark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system whose raw layer sets permission
 * bits with java.nio instead of forking chmod when no native libhadoop is
 * loaded. A mode with the sticky bit still goes through Hadoop's own path.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission lists owner rwx, group rwx, others rwx: bit 0400 down to 0001.
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission); // a file store without POSIX attributes
      }
    }
  }
}
