package bytefreq;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** Hadoop's checksummed local file system with modes set through java.nio.
 *  Without Hadoop's native library, RawLocalFileSystem starts a chmod
 *  process for every file and directory a write creates. */
public class InProcessLocalFileSystem extends LocalFileSystem {
    public InProcessLocalFileSystem() { super(new Raw()); }

    public static class Raw extends RawLocalFileSystem {
        @Override
        public void setPermission(Path p, FsPermission perm) throws IOException {
            short mode = perm.toShort();
            if ((mode & ~0777) != 0) { super.setPermission(p, perm); return; }  // sticky/setuid
            Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
            for (PosixFilePermission b : PosixFilePermission.values()) {  // OWNER_READ = 0400 .. 0001
                if ((mode & (0400 >> b.ordinal())) != 0) bits.add(b);
            }
            Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
        }
    }
}
