package flink_s3_read_write_spark.jvm;

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
 * Hadoop's checksummed local filesystem ({@code file:}) whose raw layer
 * sets permissions through {@code java.nio} instead of a forked
 * {@code chmod}.
 *
 * <p>Without the native Hadoop library, {@link RawLocalFileSystem#setPermission}
 * runs {@code chmod} in a child process for every file, {@code .crc} file
 * and directory it creates. This class overrides only that method and makes
 * the same {@code chmod(2)} call in-process. Checksums, file modes and every
 * other operation are Hadoop's own. The sticky bit, which NIO cannot set,
 * goes to the stock method.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  /** {@link RawLocalFileSystem} with an in-process {@code setPermission}. */
  public static class NioRawLocalFileSystem extends RawLocalFileSystem {
    // values()[i] is mode bit 0400 >> i: OWNER_READ, OWNER_WRITE, ... OTHERS_EXECUTE.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
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
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
