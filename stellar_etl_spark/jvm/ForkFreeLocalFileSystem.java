package stellar_etl_spark.fs;

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
 * Hadoop's checksummed LocalFileSystem over a raw layer that sets modes
 * in the JVM. Without libhadoop, RawLocalFileSystem forks a `chmod` for
 * every file, .crc and directory it creates; this one calls chmod(2)
 * through java.nio. Checksums are written and verified as before, by
 * LocalFileSystem itself. A mode with bits beyond 0777 (sticky, setuid,
 * setgid), or a file store without POSIX modes, goes the stock way.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {

  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    // OWNER_READ .. OTHERS_EXECUTE: the mode bits 0400 .. 0001, in order
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
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
        super.setPermission(p, permission);
      }
    }
  }
}
