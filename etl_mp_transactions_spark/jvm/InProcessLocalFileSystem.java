package etl_mp_transactions_spark.jvm;

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
 * Hadoop's checksummed {@code file://} filesystem with one change: file
 * and directory permissions are set through {@code java.nio}. Without the
 * native Hadoop library, {@link RawLocalFileSystem#setPermission} starts a
 * {@code chmod} process for every file and directory it creates.
 */
public class InProcessLocalFileSystem extends LocalFileSystem {

  public InProcessLocalFileSystem() {
    super(new Raw());
  }

  /** The raw filesystem beneath the {@code .crc} layer. */
  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ .. OTHERS_EXECUTE, the order of the bits 0400 .. 0001
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission); // sticky bit: not expressible in NIO
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission); // no POSIX attribute view
      }
    }
  }
}
