package national_caseload_data_ingest_spark.jvm;

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
 * The {@code file://} filesystem, with permissions set inside the JVM.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} forks a
 * {@code chmod} process, and Hadoop calls it on every file create and every
 * mkdir.  {@link Raw} sets a plain rwx mode through java.nio instead; a mode
 * with the sticky bit, or a store without POSIX attributes, takes the stock
 * path.  {@link #rename} keeps the one override of Hive's
 * {@code ProxyLocalFileSystem}, the class {@code file://} resolves to
 * without this one.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** A rename onto an existing file fails instead of replacing it. */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    // Declared owner, group, others; read, write, execute: bit 0400 >> i.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) == 0) {
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < BITS.length; i++) {
          if ((mode & (0400 >> i)) != 0) {
            perms.add(BITS[i]);
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException e) {
          // Not a POSIX store: the stock path below.
        }
      }
      super.setPermission(p, permission);
    }
  }
}
