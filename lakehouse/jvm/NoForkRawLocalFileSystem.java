package lakehouse.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem with {@code setPermission} done in the JVM.
 *
 * <p>Without the Hadoop native library, {@link RawLocalFileSystem} sets a
 * permission by running a {@code chmod} process, once for every file,
 * checksum sidecar and directory a write creates. This class applies the
 * nine rwx bits through {@code java.nio} instead. Only a sticky bit, which
 * NIO cannot set, still goes to the stock implementation.
 */
public class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: bit 8 down to bit 0 of the octal mode
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    short mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }
}
