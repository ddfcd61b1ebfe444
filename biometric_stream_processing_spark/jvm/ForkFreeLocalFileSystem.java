package bspe.fs;

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
 * Hadoop's checksummed local FileSystem whose raw layer sets file modes
 * in-process. Without native libhadoop, RawLocalFileSystem.setPermission
 * runs a `chmod` process for every file and directory it creates, the
 * hidden .crc files included. Everything else is Hadoop's own code.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {

  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ .. OTHERS_EXECUTE, i.e. the mode bits 0400 .. 0001
    private static final PosixFilePermission[] BITS =
        PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> perms =
          EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);  // not a POSIX filesystem
      }
    }
  }
}
